package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.Rounding.{pround, sqlRound}
import graft.VectorTextQueries.{sqlHash60, sqlShingles, sqlToks}
import graft.sim.Pq
import graft.text.{Contamination, Sampling, TextOps}

/** Round-5 training-data-pipeline queries: corpus hygiene (repetition
  * filters, benchmark decontamination, cross-document chunk dedup),
  * balanced sampling, PQ-compressed similarity search, and the
  * watermarked streaming OHLCV aggregation — each with a DuckDB oracle.
  */
object PipelineQueries {

  /** q214's derived hyperplane count P(N) per sf dir, so the dynamic
    * oracle embeds the SAME planes the query hashed with.
    */
  private val SemPlaneCounts = new Fits.Slot[Int]

  /** ln(c) as a long in nano-nats, rounded half up: the integer log every
    * DSIR / NB / PMI score here sums, so the sums are order-free. */
  private def qln(c: Column): Column =
    floor(log(c.cast("double")) * 1e9 + 0.5).cast("long")

  private val SemDedupSeed = 7L

  /** P(N) holds expected bucket size ≈ 32: 2^P ≥ N/32. Bucket sizes stay
    * CONSTANT as the corpus grows, so the per-bucket all-pairs stage is
    * linear in N — the knob q212's fixed-label clustering lacks.
    */
  private[graft] def semPlanes(n: Long): Int =
    math.max(1, math.ceil(math.log(n / 32.0) / math.log(2.0)).toInt)

  /** Per-doc naive-Bayes quality scores — the shared core of q215 (the
    * CCNet-style classifier stage) and q219 (quality-first budget
    * selection). Returns (doc_id, source, n_tokens, score_q) where
    * score_q = Σ_tokens count·log-odds in exact nano-quantized BIGINTs
    * (the q213 trick), so both the score AND any ordering built on it are
    * order-free and engine-independent. 100 TB shape: one tokenize pass
    * materialized once (localCheckpoint), two vocab-sized hash
    * aggregations, a 1-row totals broadcast, and a vocab equi-join —
    * the weights side is vocab-sized (orders of magnitude under the
    * corpus in any NB model; 399 rows at the 30× octave) so the scoring
    * join broadcasts: the corpus side never shuffles and the per-doc
    * aggregation feeds on map-side partials (measured 5.3 → 2.2 s at
    * 30×). A vocabulary too large to broadcast (hundreds of MB) should
    * drop the hint and let the equi-join shuffle — same rows either way.
    */
  private[graft] def nbDocScores(s: SparkSession, d: String): DataFrame = {
    val nb = Cached.checkpoint(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("w0"))
      .select(col("doc_id"), col("source"), lower(col("w0")).as("w"))
      .groupBy("doc_id", "source", "w").agg(count(lit(1)).as("nb")))
    val byTok = nb.groupBy("w").agg(
      sum(when(col("source") === "src0", col("nb")).otherwise(0L)).as("chi"),
      sum(when(col("source") =!= "src0", col("nb")).otherwise(0L)).as("clo"))
    val totals = byTok.agg(sum("chi").as("thi"), sum("clo").as("tlo"),
      count(lit(1)).as("v"))
    val weights = byTok.crossJoin(broadcast(totals))
      .select(col("w"),
        (qln(col("chi") + 1) - qln(col("thi") + col("v")) -
          qln(col("clo") + 1) + qln(col("tlo") + col("v"))).as("lo_q"))
    nb.join(broadcast(weights), "w")
      .groupBy("doc_id", "source")
      .agg(sum(col("nb")).as("n_tokens"),
        sum(col("nb") * col("lo_q")).as("score_q"))
  }

  /** DuckDB mirror of [[nbDocScores]]: CTE chain ending in
    * `ds(doc_id, source, n_tokens, score_q)`.
    */
  private[graft] val nbScoreSqlCtes: String =
    s"""t AS (SELECT doc_id, source, lower(unnest($sqlToks)) AS w
       |  FROM documents),
       |nb AS (SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS nb
       |  FROM t GROUP BY 1, 2, 3),
       |bt AS (SELECT w,
       |    CAST(sum(CASE WHEN source = 'src0' THEN nb ELSE 0 END) AS BIGINT) AS chi,
       |    CAST(sum(CASE WHEN source <> 'src0' THEN nb ELSE 0 END) AS BIGINT) AS clo
       |  FROM nb GROUP BY 1),
       |tot AS (SELECT CAST(sum(chi) AS BIGINT) AS thi,
       |    CAST(sum(clo) AS BIGINT) AS tlo,
       |    CAST(count(*) AS BIGINT) AS v FROM bt),
       |wt AS (SELECT bt.w,
       |    CAST(floor(ln(bt.chi + 1) * 1e9 + 0.5) AS BIGINT)
       |    - CAST(floor(ln(tot.thi + tot.v) * 1e9 + 0.5) AS BIGINT)
       |    - CAST(floor(ln(bt.clo + 1) * 1e9 + 0.5) AS BIGINT)
       |    + CAST(floor(ln(tot.tlo + tot.v) * 1e9 + 0.5) AS BIGINT) AS lo_q
       |  FROM bt CROSS JOIN tot),
       |ds AS (SELECT nb.doc_id, nb.source,
       |    CAST(sum(nb.nb) AS BIGINT) AS n_tokens,
       |    CAST(sum(nb.nb * wt.lo_q) AS BIGINT) AS score_q
       |  FROM nb JOIN wt USING (w) GROUP BY 1, 2)""".stripMargin

  /** Merge steps for the q221/q222 BPE pair (Sennrich et al. 2016).
    * 32 since round 10 (was a demo-scale 4): real tokenizer training
    * learns thousands of merges (Sennrich §3 uses 10k-60k); 32 is enough
    * to demonstrate that the per-step cost is vocab-sized (flat octave
    * row, SCALING.md) while keeping the unrolled-CTE oracle — which
    * verifies the FULL 32-step trajectory, not just a hash — at ~15 KB
    * of SQL.
    */
  private val BpeSteps = 32

  /** Learn `k` BPE merges on the corpus's alphanumeric word types —
    * shared by q221 (emits the merge table) and q222 (applies the merges
    * corpus-wide). The loop runs on the WORD-TYPE frequency table: the
    * only corpus-sized work is the tokenize+count aggregation
    * (localCheckpointed once); each step is a vocab-sized pair
    * aggregation plus a constant-size (LIMIT 1) argmax collect — the
    * learned hyperparameter, the q210-epoch-loop pattern. The merge is
    * ONE literal string replace on the boundary-safe ";sym;" encoding:
    * leftmost non-overlapping replace implements BPE's left-to-right
    * merge identically in Spark and DuckDB (and ';' boundaries make
    * interior false matches impossible on the [A-Za-z0-9]+ universe).
    * Ties break (count DESC, l ASC, r ASC) — binary string order on
    * ASCII, identical in both engines.
    */
  /** Adjacent-symbol pair counts over the ";sym;"-encoded word-type
    * table — the per-step aggregation both BPE trainers share. */
  /** Hash-derived 90/5/5 train/val/test assignment, shared by q226's
    * manifest, q228's leakage audit, and q267's OOV rate — ONE
    * definition so the split law cannot drift between its consumers.
    * floor(), not cast-to-int: DuckDB's double→INT cast ROUNDS while
    * Spark's truncates; floor() is the one form both compute alike.
    * Hash via graft.Hashing — overflow-safe for the full BIGINT id
    * range (the naive Knuth multiply wraps in Spark but RAISES in
    * DuckDB past id ≈ 3.47e9; see Hashing's scaladoc).
    */
  private[graft] def splitOf(idc: Column): Column = {
    val bucket = floor(Hashing.hash32(idc) / lit(42949672.96))
    when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
  }

  /** DuckDB rendering of [[splitOf]]. */
  private[graft] def sqlSplitOf(c: String): String =
    s"""CASE WHEN floor(${Hashing.sqlHash32(c)}
       |      / 42949672.96) < 90 THEN 'train'
       |    WHEN floor(${Hashing.sqlHash32(c)}
       |      / 42949672.96) < 95 THEN 'val'
       |    ELSE 'test' END""".stripMargin

  private def bpePairCounts(cur: DataFrame): DataFrame =
    cur
      .select(col("freq"),
        split(expr("trim(BOTH ';' FROM enc)"), ";;").as("ss"))
      // sequence(1, 0) DESCENDS in Spark, so a fully-merged or
      // single-char word would index past its 1-element array;
      // pairless rows contribute nothing on either engine.
      .filter(size(col("ss")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(ss) - 1), " +
          "i -> named_struct('l', element_at(ss, i), " +
          "'r', element_at(ss, i + 1)))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))

  /** The corpus's alphanumeric word-type frequency table with the
    * boundary-safe ";sym;" initial encoding (shared BPE base). The
    * trainer that builds it releases the checkpoint when it returns. */
  private def bpeWords(s: SparkSession, d: String): DataFrame =
    Cached.checkpoint(Tables.documents(s, d)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[A-Za-z0-9]+$"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("enc", regexp_replace(col("w"), "(.)", ";$1;")))

  /** The BPE trainers' [[LocalTier.Bpe]] dispatch: one agg (rows + total
    * chars) on the already-checkpointed seed gauges it — q221/q230's
    * word-TYPE table is 31 rows, q260's doc-sequence table ≤5k rows at
    * sf0.1 — and within budget the local loops run the SAME kernels over
    * the collected state (bit-identical trajectories, pinned by the
    * unrolled-CTE oracles). None ⇒ stay distributed.
    */
  private def collectSmallState(df: DataFrame): Option[Array[(String, Long)]] =
    LocalTier.collect(LocalTier.Bpe, df.select("enc", "freq")) {
      val h = df.agg(count(lit(1)).as("n"),
        coalesce(sum(length(col("enc"))), lit(0L)).as("ch")).head()
      LocalTier.Gauge(h.getLong(0), h.getLong(1))
    }(rows => Some(rows.map(r => (r.getString(0), r.getLong(1)))))

  /** Local mirror of [[bpePairCounts]] / [[phraseBpePoolRdd]]'s pair
    * aggregation: adjacent-symbol counts over the ";sym;;sym;" encoding.
    * Same tokenization as [[applyMergeScan]] (substring + split ";;" —
    * no trailing separator exists, so Java and Spark split agree).
    */
  private[graft] def localPairCounts(
      state: Array[(String, Long)]): scala.collection.mutable.HashMap[(String, String), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(String, String), Long]
    state.foreach { case (enc, freq) =>
      val ss = enc.substring(1, enc.length - 1).split(";;")
      var i = 0
      while (i < ss.length - 1) {
        val k = (ss(i), ss(i + 1))
        m.update(k, m.getOrElse(k, 0L) + freq)
        i += 1
      }
    }
    m
  }

  /** The trainers' shared total order, (cnt DESC, l ASC, r ASC) —
    * symbols are ASCII so Java String order ≡ Spark's binary collation.
    */
  private[graft] val BpePairOrd: Ordering[((String, String), Long)] =
    Ordering.by { case ((l, r), c) => (-c, l, r) }

  /** Bounded top-`w` under [[BpePairOrd]] (round-18, §1.2 per-task work):
    * a w-capped heap (worst-at-head) replaces sorting EVERY pair type —
    * O(P log w) comparisons instead of O(P log P) plus a full sorted
    * copy per round. The order is strict (each (l, r) occurs once), so
    * the kept set and its ascending order are identical to
    * `sorted(BpePairOrd).take(w)` — pinned by the unchanged trainer
    * oracles and BpeLocalParitySpec.
    */
  private def localTopW(m: scala.collection.mutable.HashMap[(String, String), Long],
      w: Int): Array[(String, String, Long)] = {
    val heap = new java.util.PriorityQueue[((String, String), Long)](
      w + 1, BpePairOrd.reverse)
    m.foreach { e =>
      if (heap.size < w) heap.add(e)
      else if (BpePairOrd.lt(e, heap.peek())) { heap.poll(); heap.add(e) }
    }
    val arr = new Array[(String, String, Long)](heap.size)
    var j = arr.length - 1
    while (j >= 0) {
      val ((l, r), c) = heap.poll()
      arr(j) = (l, r, c)
      j -= 1
    }
    arr
  }

  /** Local tier of [[bpeMerges]] — same argmax, same literal replace
    * (Java String.replace ≡ Spark's StringReplace: leftmost
    * non-overlapping on ASCII), same exhaustion rule.
    */
  private[graft] def bpeMergesLocal(state0: Array[(String, Long)],
      k: Int): Seq[(Long, String, String, Long)] = {
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var cur = state0
    var step = 0
    var exhausted = false
    while (step < k && !exhausted) {
      step += 1
      val cnt = localPairCounts(cur)
      if (cnt.isEmpty) exhausted = true
      else {
        val Array((l, r, c)) = localTopW(cnt, 1)
        merges += ((step.toLong, l, r, c))
        val pat = s";$l;;$r;"; val rep = s";$l$r;"
        cur = cur.map { case (e, f) => (e.replace(pat, rep), f) }
      }
    }
    merges.toSeq
  }

  private[graft] def bpeMerges(s: SparkSession, d: String,
      k: Int): Seq[(Long, String, String, Long)] = {
    val words = bpeWords(s, d)
    try collectSmallState(words) match {
      case Some(st) => bpeMergesLocal(st, k)
      case None => bpeMergesDistributed(words, k)
    } finally Cached.release(words)
  }

  /** The distributed step loop — the 100 TB tier of [[bpeMerges]],
    * unchanged semantics. */
  private[graft] def bpeMergesDistributed(words: DataFrame,
      k: Int): Seq[(Long, String, String, Long)] = {
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var cur = words
    var step = 0
    var exhausted = false
    while (step < k && !exhausted) {
      step += 1
      val pairs = bpePairCounts(cur)
      // headOption, not (0): on a degenerate corpus a step can run out
      // of symbol pairs (all words fully merged); the SQL oracle's empty
      // b_i then contributes nothing, so the engine must emit fewer than
      // k steps rather than throw.
      pairs.orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect().headOption match {
        case Some(best) =>
          val (l, r, c) = (best.getString(0), best.getString(1), best.getLong(2))
          merges += ((step.toLong, l, r, c))
          cur = cur.withColumn("enc",
            replace(col("enc"), lit(s";$l;;$r;"), lit(s";$l$r;")))
        case None => exhausted = true
      }
    }
    merges.toSeq
  }

  /** DuckDB mirror of [[bpeMerges]]: CTE chain `w0, e0, (c_i, b_i, e_i)*`
    * where each `b_i(l, r, cnt)` is step i's argmax merge. The chain
    * nodes are `AS MATERIALIZED`: each e_i is referenced twice (by
    * c_{i+1} and e_{i+1}), so DuckDB's default inlining would double the
    * plan per step — 2^k scans of `documents` at k=32. Materialization
    * makes the oracle O(k · vocab), like the engine.
    */
  private def bpeSqlCtes(k: Int): String = {
    val steps = (1 to k).map { i =>
      val prev = s"e${i - 1}"
      s"""c$i AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |  SELECT freq, unnest([{'l': s[j], 'r': s[j + 1]}
         |      FOR j IN range(1, len(s))], recursive := true)
         |  FROM (SELECT freq, string_split(trim(enc, ';'), ';;') AS s
         |    FROM $prev)) GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM c$i ORDER BY cnt DESC, l, r LIMIT 1),
         |e$i AS MATERIALIZED (SELECT w, freq,
         |    replace(enc, ';' || b$i.l || ';;' || b$i.r || ';',
         |      ';' || b$i.l || b$i.r || ';') AS enc
         |  FROM $prev CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($sqlToks) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[A-Za-z0-9]+$$') GROUP BY w),
       |e0 AS MATERIALIZED (SELECT w, freq,
       |    regexp_replace(w, '(.)', ';\\1;', 'g') AS enc FROM w0),
       |$steps""".stripMargin
  }

  /** Batched BPE training knobs (round-10 verdict #6): R rounds of up to
    * B conflict-free merges each — capacity R·B = 512 merges, past the
    * 256 the verdict names. NOTE the synthetic corpus itself caps the
    * demonstration: it has only 31 distinct alphanumeric word TYPES
    * (measured at sf0.01 AND sf0.1), whose full merge closure is 89
    * merges — no trainer, sequential or batched, can learn 256 merges
    * from it. q230 therefore trains to EXHAUSTION (every word type
    * collapsed to a single symbol), the strictly harder endpoint: the
    * loop must detect pair-starvation and the oracle must agree on
    * trailing empty rounds. Batching is the standard answer to the
    * per-merge JOB-LATENCY floor (~0.1 s/job measured for q221: 256
    * sequential steps would be ~27 s of scheduling alone): one
    * pair-count job per ROUND learns a whole batch, making wall time
    * ROUND-bound, not merge-bound — on the 10×/30× octave corpora
    * (whose per-copy character substitutions multiply the word-type
    * vocabulary) the same 32 rounds learn MORE merges at ~flat wall.
    * W is the candidate window the conflict rule inspects (4B —
    * acceptance only ever looks at HIGHER-ranked pairs; pairs past the
    * window simply wait a round).
    */
  private val BpeBatchRounds = 32
  private val BpeBatchB = 16
  private val BpeBatchW = 64

  /** Batch-conflict rule, shared verbatim by the Spark driver loop and
    * the SQL oracle's NOT EXISTS: candidate pair p conflicts with a
    * HIGHER-ranked candidate q when they share a symbol (merging q
    * invalidates p's round-start count) or p uses the symbol q's merge
    * CREATES (q.l ++ q.r — p's replace pattern would start matching
    * tokens that did not exist at count time). Within a batch, accepted
    * pairs are therefore pairwise non-interfering: applying them in rank
    * order leaves each one's round-start count exact at application
    * time. This is frequency-threshold merge batching as used by
    * parallel BPE trainers (public knowledge; the greedy-BPE literature
    * since Sennrich 2016 treats non-interacting merges as
    * order-commutable).
    */
  private def bpeBatchConflicts(pl: String, pr: String,
      ql: String, qr: String): Boolean =
    ql == pl || ql == pr || qr == pl || qr == pr ||
      (ql + qr) == pl || (ql + qr) == pr

  /** R rounds × up-to-B batched merges; returns (round, bk, lhs, rhs,
    * cnt) — the full trajectory, like q221. Per round: ONE vocab-sized
    * pair aggregation + one constant-size (W-row) TakeOrdered collect
    * (the learned hyperparameters, q210's epoch-loop pattern), then the
    * ≤B replaces applied together and the small word-type table
    * localCheckpointed so plan depth stays bounded at B replaces instead
    * of growing to R·B.
    */
  /** One round's conflict-free batch off the rank-ordered candidate
    * window — shared verbatim by the local and distributed q230 loops
    * (and mirrored by the oracle's NOT EXISTS). */
  private def bpeBatchAccept(
      cand: Array[(String, String, Long)]): Seq[(String, String, Long)] = {
    val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    for (i <- cand.indices if accepted.size < BpeBatchB) {
      val (l, r, c) = cand(i)
      // Mirror of the oracle's NOT EXISTS: conflicts are judged
      // against ALL higher-ranked candidates (accepted or not) — the
      // form a single SQL pass can express.
      if (!cand.take(i).exists(q => bpeBatchConflicts(l, r, q._1, q._2)))
        accepted += ((l, r, c))
    }
    accepted.toSeq
  }

  private[graft] def bpeBatchedMerges(s: SparkSession, d: String,
      rounds: Int = BpeBatchRounds)
      : Seq[(Long, Long, String, String, Long)] = {
    val words = bpeWords(s, d)
    try collectSmallState(words) match {
      case Some(st) => bpeBatchedMergesLocal(st, rounds)
      case None => bpeBatchedMergesDistributed(words, rounds)
    } finally Cached.release(words)
  }

  /** Local tier of [[bpeBatchedMerges]]: same pair counts, same top-W
    * total order, same accept rule, replaces applied in the same rank
    * order (they are non-interfering, but the mirror is exact anyway).
    */
  private[graft] def bpeBatchedMergesLocal(state0: Array[(String, Long)],
      rounds: Int): Seq[(Long, Long, String, String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String, String, Long)]()
    var cur = state0
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      round += 1
      val cand = localTopW(localPairCounts(cur), BpeBatchW)
      val accepted = bpeBatchAccept(cand)
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.zipWithIndex.foreach { case ((l, r, c), j) =>
          out += ((round.toLong, (j + 1).toLong, l, r, c))
        }
        val pats = accepted.map { case (l, r, _) => (s";$l;;$r;", s";$l$r;") }
        cur = cur.map { case (e, f) =>
          (pats.foldLeft(e) { case (x, (p, q)) => x.replace(p, q) }, f)
        }
      }
    }
    out.toSeq
  }

  /** The distributed round loop — the 100 TB tier of
    * [[bpeBatchedMerges]], unchanged semantics. */
  private[graft] def bpeBatchedMergesDistributed(words: DataFrame,
      rounds: Int): Seq[(Long, Long, String, String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String, String, Long)]()
    var cur = words
    var round = 0
    var exhausted = false
    while (round < rounds && !exhausted) {
      round += 1
      val cand = bpePairCounts(cur)
        .orderBy(desc("cnt"), asc("l"), asc("r")).limit(BpeBatchW)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val accepted = bpeBatchAccept(cand)
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.zipWithIndex.foreach { case ((l, r, c), j) =>
          out += ((round.toLong, (j + 1).toLong, l, r, c))
        }
        val encK = accepted.foldLeft(col("enc")) { case (e, (l, r, _)) =>
          replace(e, lit(s";$l;;$r;"), lit(s";$l$r;"))
        }
        val next = Cached.checkpoint(cur.withColumn("enc", encK))
        // A round's checkpoint is released once its successor exists;
        // the seed belongs to the caller.
        if (cur ne words) Cached.release(cur)
        cur = next
      }
    }
    if (cur ne words) Cached.release(cur)
    out.toSeq
  }

  /** DuckDB mirror of [[bpeBatchedMerges]]: per round i a CTE block
    * p_i (pair counts) → r_i (top-W by the shared total order) → ab_i
    * (conflict-free batch via NOT EXISTS against higher-ranked rows,
    * re-ranked to bk ≤ B) → an unrolled chain of B replaces f_i_j (each
    * j's merge read from a 1-row CTE that degrades to a no-op sentinel
    * pair ('','') when the batch is shorter than B — the pattern ';;;;'
    * cannot occur, symbols are non-empty) → g_i, the round's encoding.
    * Materialized like bpeSqlCtes, so the oracle stays O(R·B·vocab).
    */
  private def bpeBatchSqlCtes(rounds: Int, b: Int, w: Int): String = {
    val blocks = (1 to rounds).map { i =>
      val prev = s"g${i - 1}"
      val head =
        s"""p$i AS (SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |  SELECT freq, unnest([{'l': s[j], 'r': s[j + 1]}
           |      FOR j IN range(1, len(s))], recursive := true)
           |  FROM (SELECT freq, string_split(trim(enc, ';'), ';;') AS s
           |    FROM $prev)) GROUP BY 1, 2),
           |r$i AS MATERIALIZED (SELECT * FROM (SELECT l, r, cnt,
           |    row_number() OVER (ORDER BY cnt DESC, l, r) AS rk FROM p$i) t
           |  WHERE rk <= $w),
           |ab$i AS MATERIALIZED (SELECT l, r, cnt, bk FROM (
           |  SELECT l, r, cnt, row_number() OVER (ORDER BY rk) AS bk FROM (
           |    SELECT p.* FROM r$i p WHERE NOT EXISTS (
           |      SELECT 1 FROM r$i q WHERE q.rk < p.rk
           |        AND (q.l = p.l OR q.l = p.r OR q.r = p.l OR q.r = p.r
           |          OR (q.l || q.r) = p.l OR (q.l || q.r) = p.r)) ) u ) v
           |  WHERE bk <= $b)""".stripMargin
      val applies = (1 to b).map { j =>
        val fprev = if (j == 1) prev else s"f${i}_${j - 1}"
        s"""m${i}_$j AS (SELECT coalesce(max(l), '') AS l,
           |    coalesce(max(r), '') AS r FROM ab$i WHERE bk = $j),
           |f${i}_$j AS MATERIALIZED (SELECT w, freq,
           |    replace(enc, ';' || m.l || ';;' || m.r || ';',
           |      ';' || m.l || m.r || ';') AS enc
           |  FROM $fprev CROSS JOIN m${i}_$j m)""".stripMargin
      }.mkString(",\n")
      val tail = s"g$i AS (SELECT w, freq, enc FROM f${i}_$b)"
      s"$head,\n$applies,\n$tail"
    }.mkString(",\n")
    s"""w0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($sqlToks) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[A-Za-z0-9]+$$') GROUP BY w),
       |g0 AS MATERIALIZED (SELECT w, freq,
       |    regexp_replace(w, '(.)', ';\\1;', 'g') AS enc FROM w0),
       |$blocks""".stripMargin
  }

  /** Phrase-BPE knobs (round-11 verdict #4: "extend batched BPE toward a
    * real vocab size"). The corpus's WORD-type merge closure is 89 (31
    * alphanumeric types — q230's documented cap), so the ≥1k-merge
    * demonstration trains at the PHRASE level instead: each document is
    * a sequence of word symbols and merges learn multi-word units (the
    * BPE-style phrase induction of the n-gram/phrase-table literature) —
    * the measured closure of this universe is ≥5000 merges at every SF.
    * The trainer stops at TARGET total merges (capacity-scaled rounds:
    * 45/46/64 rounds at sf0.001/0.01/0.1 — rounds grow only mildly with
    * corpus size because per-round acceptance is vocabulary-bound), with
    * a hard ROUND cap as the loop guard.
    */
  private val PhraseBpeTarget = 1024
  private val PhraseBpeRoundCap = 96
  private val PhraseBpeW = 1024
  private val PhraseBpeLevels = 8
  private val PhraseBpeBatchCap = 192

  /** Created-symbol constructor for phrase-BPE merges: `l ~ r`, joined
    * with '~' (non-alphanumeric, non-';'). Base symbols are sanitized to
    * [A-Za-z0-9]+, so a created symbol can NEVER collide with a base
    * word — bare concatenation could (the + rapist = therapist,
    * round-12 ADVICE #1), silently conflating distinct phrases. Two
    * different merge parses CAN still create the same string
    * ((a~b, c) and (a, b~c) both yield a~b~c), and that is the intended
    * identity: with '~' marking exactly the original word boundaries, a
    * symbol IS its word sequence, so any such collision denotes the
    * same phrase and SHOULD share counts — parse-tree identity is not
    * part of phrase-BPE's semantics. The SQL twin builds the same
    * `l || '~' || r` literal in its touch set, block set, and replace
    * chain, so the oracle hash pins the scheme.
    */
  private def phraseSym(l: String, r: String): String = l + "~" + r

  /** Document word-sequence table: each doc as a ";sym;;sym;...;sym;"
    * phrase-BPE base string over sanitized (alphanumeric-only) word
    * symbols, grouped to (enc, freq). Sanitization keeps the ';'
    * boundary scheme provably collision-free on ANY corpus (on this one
    * it is the identity: every token is already [A-Za-z0-9]+).
    * [[phraseBpeMerges]] releases the checkpoint when it returns.
    */
  private[graft] def phraseSeqs(s: SparkSession, d: String): DataFrame =
    Cached.checkpoint(Tables.documents(s, d)
      .select(concat(lit(";"),
        array_join(filter(transform(TextOps.tokens(col("text")),
          w => regexp_replace(w, "[^A-Za-z0-9]", "")),
          x => length(x) > 0), ";;"),
        lit(";")).as("enc"))
      .filter(col("enc") =!= ";;")
      .groupBy("enc").agg(count(lit(1)).as("freq")))

  /** L-level locally-dominant batch acceptance over the rank-ordered
    * candidate pool — the parallel-greedy-matching shape (an edge that is
    * the best-ranked at all its endpoints is accepted; Preis 1999 /
    * Israeli–Itai-style local dominance, public knowledge). Level k
    * filters the pool down to pairs touching no symbol already accepted
    * (or CREATED) in levels < k, then accepts every candidate with no
    * higher-ranked conflicting candidate remaining. Accepted pairs are
    * pairwise non-interfering across levels — their ";l;;r;" patterns
    * cannot overlap (overlap requires a shared boundary symbol, which
    * level separation excludes) — so the ≤|accepted| replaces commute
    * and every accepted pair's round-start count is exact at application
    * time. One level accepts only ~vocab/2 merges on a skewed corpus
    * (the q230 finding); L levels lift per-round acceptance to ~16–47
    * here, and acceptance GROWS as merges enlarge the symbol vocabulary.
    * Returns (l, r, cnt, level) in (level, rank) order — the order the
    * SQL twin's list aggregation pins.
    */
  private[graft] def phraseBpeAccept(pool: Array[(String, String, Long)],
      levels: Int): Seq[(String, String, Long, Int)] = {
    val accepted = scala.collection.mutable.ArrayBuffer[(String, String, Long, Int)]()
    val blocked = scala.collection.mutable.HashSet[String]()
    for (lev <- 1 to levels) {
      val cand = pool.filter(p => !blocked.contains(p._1) && !blocked.contains(p._2))
      // Dominance in ONE rank-order pass: p is dominated iff a
      // higher-ranked candidate q touches it — q.l/q.r/q.l||q.r hits
      // p.l or p.r — i.e. iff p.l or p.r is in the union of all
      // higher-ranked candidates' touch sets. Maintaining that union as
      // a hash set makes the level O(|cand|) instead of the naive
      // O(|cand|²) pairwise scan (which at W = 1024 was ~4M string
      // comparisons per round — measured as the DRIVER-side floor of
      // the whole trainer, dwarfing the Spark jobs it schedules).
      val lv = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      val touched = scala.collection.mutable.HashSet[String]()
      cand.foreach { p =>
        if (!touched.contains(p._1) && !touched.contains(p._2)) lv += p
        touched += p._1; touched += p._2; touched += phraseSym(p._1, p._2)
      }
      lv.foreach { case (l, r, c) =>
        accepted += ((l, r, c, lev))
        blocked += l; blocked += r; blocked += phraseSym(l, r)
      }
    }
    accepted.toSeq
  }

  /** The single-pass batch-merge scan of the apply kernel: ONE
    * left-to-right symbol scan instead of a ≤B-deep replace() chain
    * (the chain re-scans every enc string once per accepted merge —
    * measured as ~2/3 of the trainer's wall before the batch kernel).
    * Batch members are pairwise symbol-disjoint BY CONSTRUCTION
    * ([[phraseBpeAccept]] blocks shared AND created symbols), so their
    * leftmost-non-overlapping replaces commute and one scan that merges
    * any (cur, next) in the batch map is bit-identical to the chain:
    * matches of different patterns can never overlap (that would need a
    * shared boundary symbol) and a merged symbol can never re-match (no
    * accepted pair uses another's created symbol). The DuckDB oracle
    * keeps the list_reduce replace chain, so the hash check itself pins
    * the equivalence.
    */
  private[graft] def applyMergeScan(
      m: Map[(String, String), String], enc: String): String = {
    val syms = enc.substring(1, enc.length - 1).split(";;")
    val sb = new StringBuilder(enc.length + 2)
    var i = 0
    while (i < syms.length) {
      val merged = if (i + 1 < syms.length)
        m.get((syms(i), syms(i + 1))) else None
      merged match {
        case Some(lr) => sb.append(';').append(lr).append(';'); i += 2
        case None => sb.append(';').append(syms(i)).append(';'); i += 1
      }
    }
    sb.toString
  }

  /** One round's candidate pool, RDD tier: the corpus-state pair
    * aggregation + exact top-W under the (cnt DESC, l ASC, r ASC) total
    * order, with no Catalyst plan construction or AQE re-optimization
    * in the loop — per-round overhead the retired DataFrame tier paid
    * 64 times (round-13 verdict #3: q260's 28.4 s was 12% of the whole
    * suite; the RDD loop measured ~20% faster same-session with a
    * BIT-IDENTICAL trajectory, PLANS.md round 14). reduceByKey keeps
    * the aggregation DISTRIBUTED and map-side-combined (same shuffle
    * shape as the DataFrame groupBy — this is NOT a driver-side count
    * map, which would not hold at 100 TB); takeOrdered merges one
    * bounded W-heap per partition. Symbols are ASCII ([A-Za-z0-9~]),
    * so the String tuple ordering is byte-identical to the SQL
    * collation — the pool, and with it the whole trajectory, is
    * bit-equal to the old tier's (measured at sf0.1 before the swap),
    * and the UNCHANGED q260 recursive-CTE oracle pins it at all SFs.
    */
  private[graft] def phraseBpePoolRdd(
      state: org.apache.spark.rdd.RDD[(String, Long)]): Array[(String, String, Long)] =
    state.flatMap { case (enc, freq) =>
      val syms = enc.substring(1, enc.length - 1).split(";;")
      if (syms.length < 2) Iterator.empty
      else (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), freq))
    }.reduceByKey(_ + _)
      .takeOrdered(PhraseBpeW)(Ordering.by { case ((l, r), c) => (-c, l, r) })
      .map { case ((l, r), c) => (l, r, c) }

  /** Apply one accepted phrase-merge batch to the (enc, freq) state —
    * the [[applyMergeScan]] kernel over a broadcast merge map, zero
    * plan construction. mapPartitions is justified here as the per-row
    * local scan a Catalyst replace chain cannot express in one pass. */
  private[graft] def phraseBpeApplyRdd(s: SparkSession,
      state: org.apache.spark.rdd.RDD[(String, Long)],
      batch: Seq[(String, String)]): org.apache.spark.rdd.RDD[(String, Long)] = {
    val bc = s.sparkContext.broadcast(
      batch.map { case (l, r) => (l, r) -> phraseSym(l, r) }.toMap)
    state.mapPartitions { it =>
      val m = bc.value
      it.map { case (enc, freq) => (applyMergeScan(m, enc), freq) }
    }
  }

  /** Phrase-BPE trainer: rounds of (corpus-state pair count → top-W pool
    * collect → L-level locally-dominant batch → fold the ≤batch replaces,
    * localCheckpoint) until TARGET total merges, exhaustion, or the round
    * cap. Per-round distributed work is ONE pair aggregation over the
    * (enc, freq) state (corpus-sized at scale; the pool collect is ≤W
    * rows — the learned hyperparameters, q210's epoch-loop pattern).
    * Wall time is ROUND-bound, not merge-bound: the whole point of
    * batching, demonstrated here at ≥1024 merges (q221's sequential
    * ~0.1 s/merge floor would put 1024 merges at ~100 s of scheduling
    * alone; this loop reaches it in 45–64 rounds).
    *
    * The round loop runs on the RDD tier (round-14): each round's state
    * is a pure function of the previous one's, so there is nothing for
    * Catalyst to optimize ACROSS rounds, and re-planning inside the
    * loop was pure overhead — the RDD loop measured ~20% faster at
    * sf0.1 with a bit-identical trajectory (PLANS.md round 14 records
    * the experiment trail: task count is NOT the floor — 2 vs 32
    * partitions measured equal — and per-round cost grows 0.26→0.50 s
    * over the 64 rounds with vocabulary-driven pair-type growth on
    * both tiers).
    */
  private[graft] def phraseBpeMerges(s: SparkSession, d: String,
      levels: Int = PhraseBpeLevels)
      : Seq[(Long, Long, String, String, Long)] = {
    val seqs = phraseSeqs(s, d)
    try phraseBpeMergesOn(s, seqs, levels) finally Cached.release(seqs)
  }

  /** Dispatch over a caller-supplied seed state — the tier gauge itself,
    * exposed so LocalTierParitySpec can force the distributed route
    * (budget=0 sys-prop) through the SAME entry the registry uses. */
  private[graft] def phraseBpeMergesOn(s: SparkSession,
      seedDf: DataFrame, levels: Int = PhraseBpeLevels)
      : Seq[(Long, Long, String, String, Long)] =
    collectSmallState(seedDf) match {
      case Some(st) => phraseBpeMergesLocal(st, levels)
      case None => phraseBpeMergesDistributed(s, seedDf, levels)
    }

  /** Local tier of [[phraseBpeMerges]]: the same kernels the RDD loop
    * runs — adjacent-pair counts + the [[BpePairOrd]] top-W pool
    * (≡ [[phraseBpePoolRdd]]), [[phraseBpeAccept]] verbatim, and the
    * [[applyMergeScan]] scan on the symbol SEQUENCE — over the collected
    * (enc, freq) state. Wall is pure driver compute. Representation: each
    * enc is split ONCE and symbols are interned to dense ints (the enc
    * string round-trip is a bijection — symbols never contain ';', so
    * split∘rebuild is the identity — and the ;-rebuilding the RDD tier
    * pays per round carries no information); pair counts key on packed
    * (l,r) int pairs in one LongMap. Pool ordering and acceptance happen
    * on the SYMBOL STRINGS exactly as distributed (≤W entries per round).
    */
  private[graft] def phraseBpeMergesLocal(state0: Array[(String, Long)],
      levels: Int = PhraseBpeLevels)
      : Seq[(Long, Long, String, String, Long)] = {
    val symId = scala.collection.mutable.HashMap.empty[String, Int]
    val symName = scala.collection.mutable.ArrayBuffer.empty[String]
    def idOf(sym: String): Int =
      symId.getOrElseUpdate(sym, { symName += sym; symName.size - 1 })
    var seqs: Array[Array[Int]] = state0.map { case (enc, _) =>
      enc.substring(1, enc.length - 1).split(";;").map(idOf)
    }
    val freqs: Array[Long] = state0.map(_._2)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String, String, Long)]()
    var round = 0
    var tot = 0
    var exhausted = false
    val audit = sys.props.get("graft.bpe.audit").contains("1")
    @inline def pairKey(a: Int, b: Int): Long =
      (a.toLong << 32) | (b.toLong & 0xffffffffL)
    // Delta-maintained pair counts (round-18, §1.2 per-task work): `cnt`
    // holds the freq-weighted adjacent-pair counts of the CURRENT `seqs`
    // at all times — filled once here, then updated only at the
    // sequences a round's batch actually rewrites (subtract the old
    // sequence's pairs, add the new one's; exact integer adds, entries
    // removed at zero). The per-round full recount this replaces was the
    // pool stage's cost (2.8 s of q260's 4.1 s at sf0.1): every round
    // re-hashed EVERY adjacent position of EVERY sequence into a
    // hundreds-of-thousands-entry map, when late rounds rewrite only a
    // small fraction of sequences. The recount and the delta maintain
    // the identical (k → c>0) map by construction, so the pool — and the
    // whole trajectory — is unchanged (pinned by LocalTierParitySpec's
    // local ≡ distributed-RDD trajectory tests and the q260/q276
    // oracles; the distributed tier still recounts per round, so parity
    // against it is a real equivalence check every run).
    val cnt = scala.collection.mutable.LongMap.empty[Long]
    def bump(ss: Array[Int], f: Long, sign: Long): Unit = {
      var i = 0
      while (i < ss.length - 1) {
        val k = pairKey(ss(i), ss(i + 1))
        val c = cnt.getOrElse(k, 0L) + sign * f
        if (c == 0L) cnt -= k else cnt.update(k, c)
        i += 1
      }
    }
    var si = 0
    while (si < seqs.length) { bump(seqs(si), freqs(si), 1L); si += 1 }
    while (round < PhraseBpeRoundCap && tot < PhraseBpeTarget && !exhausted) {
      round += 1
      val pool = {
        // Bounded top-W (round-18, the localTopW rationale): W-capped
        // heap under the SAME (cnt DESC, l, r) total order, resolving
        // symbol names only inside comparisons — replaces building a
        // (String, String) tuple for EVERY pair type and sorting them
        // all, per round. Strict order ⇒ identical kept set and order.
        val ord = new java.util.Comparator[(Long, Long)] {
          def compare(a: (Long, Long), b: (Long, Long)): Int = {
            if (a._2 != b._2) java.lang.Long.compare(b._2, a._2)
            else {
              val cl = symName((a._1 >> 32).toInt)
                .compareTo(symName((b._1 >> 32).toInt))
              if (cl != 0) cl
              else symName(a._1.toInt).compareTo(symName(b._1.toInt))
            }
          }
        }
        val heap = new java.util.PriorityQueue[(Long, Long)](
          PhraseBpeW + 1, ord.reversed())
        cnt.foreach { case (k, c) =>
          val e = (k, c)
          if (heap.size < PhraseBpeW) heap.add(e)
          else if (ord.compare(e, heap.peek()) < 0) { heap.poll(); heap.add(e) }
        }
        val arr = new Array[(String, String, Long)](heap.size)
        var j = arr.length - 1
        while (j >= 0) {
          val (k, c) = heap.poll()
          arr(j) = (symName((k >> 32).toInt), symName(k.toInt), c)
          j -= 1
        }
        arr
      }
      val accepted = phraseBpeAccept(pool, levels)
      require(accepted.size <= PhraseBpeBatchCap,
        s"phrase-BPE round $round accepted ${accepted.size} > $PhraseBpeBatchCap")
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.zipWithIndex.foreach { case ((l, r, c, _), j) =>
          out += ((round.toLong, (j + 1).toLong, l, r, c))
        }
        // (l, r) → merged-symbol id, the int mirror of applyMergeScan's
        // broadcast map (batch members are pairwise symbol-disjoint, so
        // the one-scan merge is exact — same argument as the kernel's).
        val m = scala.collection.mutable.LongMap.empty[Int]
        accepted.foreach { case (l, r, _, _) =>
          m.update((idOf(l).toLong << 32) | (idOf(r).toLong & 0xffffffffL),
            idOf(phraseSym(l, r)))
        }
        // One pass per sequence: scan for the first merge site with an
        // allocation-free contains; an untouched sequence (the common
        // case in late rounds) keeps its array and contributes no
        // count updates. A touched one replays the greedy scan from
        // that site (the prefix had no hits, so the rewrite is
        // identical to scanning from 0) and applies the count delta
        // ONLY at merge-site boundaries: pairs interior to an
        // unchanged stretch are identical in the old and new sequence
        // and cancel, so touching them would be 2 wasted map ops per
        // position. The boundary algebra per step, with (po, pn, pc) =
        // (last old symbol consumed, last new symbol appended,
        // last step was a merge):
        //   copy x:        if pc { sub (po, x); add (pn, x) }
        //   merge (a,b)→M: sub (a, b);
        //                  if a prev exists { sub (po, a); add (pn, M) }
        //                  (when !pc, po == pn, so this is the plain
        //                   c-a → c-M neighbor swap; when pc it is the
        //                   back-to-back-merge M0-M adjacency)
        // which together account exactly for every pair that differs
        // between the old and new sequence — verified against a full
        // recount by LocalTierParitySpec's delta-invariant test.
        var di = 0
        while (di < seqs.length) {
          val ss = seqs(di)
          if (ss.length >= 2) {
            var i = 0
            while (i < ss.length - 1 && !m.contains(pairKey(ss(i), ss(i + 1)))) i += 1
            if (i < ss.length - 1) {
              val f = freqs(di)
              @inline def adj(a: Int, b: Int, sign: Long): Unit = {
                val k = pairKey(a, b)
                val c = cnt.getOrElse(k, 0L) + sign * f
                if (c == 0L) cnt -= k else cnt.update(k, c)
              }
              val sb = new scala.collection.mutable.ArrayBuffer[Int](ss.length)
              var j = 0
              while (j < i) { sb += ss(j); j += 1 }
              var po = if (i > 0) ss(i - 1) else -1
              var pn = po
              var pc = false
              var havePrev = i > 0
              while (j < ss.length) {
                val merged = if (j + 1 < ss.length)
                  m.get(pairKey(ss(j), ss(j + 1)))
                else None
                merged match {
                  case Some(lr) =>
                    adj(ss(j), ss(j + 1), -1L)
                    if (havePrev) { adj(po, ss(j), -1L); adj(pn, lr, 1L) }
                    sb += lr
                    po = ss(j + 1); pn = lr; pc = true; havePrev = true
                    j += 2
                  case None =>
                    val x = ss(j)
                    if (pc) { adj(po, x, -1L); adj(pn, x, 1L) }
                    sb += x
                    po = x; pn = x; pc = false; havePrev = true
                    j += 1
                }
              }
              seqs(di) = sb.toArray
            }
          }
          di += 1
        }
        // Delta-invariant audit (spec-only, sys-prop gated): after every
        // round the delta-maintained map must equal a from-scratch
        // recount of the rewritten state — the exact invariant the
        // boundary algebra above claims. Not read in production paths.
        if (audit) {
          val chk = scala.collection.mutable.LongMap.empty[Long]
          var di = 0
          while (di < seqs.length) {
            val ss = seqs(di); val f = freqs(di); var i = 0
            while (i < ss.length - 1) {
              val k = pairKey(ss(i), ss(i + 1))
              chk.update(k, chk.getOrElse(k, 0L) + f)
              i += 1
            }
            di += 1
          }
          require(chk.size == cnt.size &&
            chk.forall { case (k, v) => cnt.getOrElse(k, 0L) == v },
            s"phrase-BPE delta-count drift at round $round: " +
              s"recount ${chk.size} pair types vs delta ${cnt.size}")
        }
        tot += accepted.size
      }
    }
    out.toSeq
  }

  /** The distributed RDD round loop — the 100 TB tier of
    * [[phraseBpeMerges]], unchanged semantics. */
  private[graft] def phraseBpeMergesDistributed(s: SparkSession,
      seedDf: DataFrame,
      levels: Int = PhraseBpeLevels)
      : Seq[(Long, Long, String, String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, String, String, Long)]()
    // Partitioning/AQE deliberately NOT pinned: an experiment pinning the
    // loop to 1 non-adaptive partition bought nothing at sf0.1 (the
    // per-round pool job is job latency + aggregation mass, not task
    // count — re-measured on the RDD tier round 14: 2 ≈ 8 ≈ 32
    // partitions) and serialized the corpus-sized pair scan at the
    // octaves (30× ratio 8.05 pinned vs 1.37 natural) — the state keeps
    // its natural partitioning so per-round work stays distributed at
    // scale.
    var cur = seedDf.rdd.map(r => (r.getString(0), r.getLong(1)))
    // cur's parent state: dead once a pool job materializes cur's
    // localCheckpoint (which truncates the lineage), but needed until
    // then. Dropping it keeps the loop's cache footprint at ~2 states
    // instead of ~rounds (unpersist on the seed's un-persisted mapped
    // RDD is a no-op; phraseSeqs' own eager checkpoint is shared with
    // other queries and is left alone).
    var prevState: org.apache.spark.rdd.RDD[(String, Long)] = null
    var round = 0
    var tot = 0
    var exhausted = false
    while (round < PhraseBpeRoundCap && tot < PhraseBpeTarget && !exhausted) {
      round += 1
      val pool = phraseBpePoolRdd(cur)
      if (prevState != null) { Cached.release(prevState); prevState = null }
      val accepted = phraseBpeAccept(pool, levels)
      // Loud totality guard, not a silent truncation: acceptance is
      // naturally matching-bounded (observed ≤ 47/round); a corpus that
      // blows past the cap needs a re-derived batch bound, not a quietly
      // different trajectory.
      require(accepted.size <= PhraseBpeBatchCap,
        s"phrase-BPE round $round accepted ${accepted.size} > $PhraseBpeBatchCap")
      if (accepted.isEmpty) exhausted = true
      else {
        accepted.zipWithIndex.foreach { case ((l, r, c, _), j) =>
          out += ((round.toLong, (j + 1).toLong, l, r, c))
        }
        // LAZY localCheckpoint: the new state materializes as a side
        // effect of the NEXT round's pair-count job instead of paying a
        // dedicated materialization job per round.
        val next = Cached.checkpoint(phraseBpeApplyRdd(s, cur,
          accepted.map { case (l, r, _, _) => (l, r) }))
        prevState = cur
        cur = next
        tot += accepted.size
      }
    }
    if (prevState != null) Cached.release(prevState)
    // Drop the final state's cache too: the trajectory in `out` is the
    // query's whole payload — nothing downstream reads the state.
    Cached.release(cur)
    out.toSeq
  }

  /** DuckDB mirror of [[phraseBpeMerges]] as ONE recursive CTE: state
    * rows (rnd, freq, enc, ms, tot) where `ms` is the round's accepted
    * merge list and `tot` the running total (the adaptive stop). The
    * recursive term's lateral computes the pool and unrolls the L
    * dominance levels; every level CTE is MATERIALIZED — each level
    * references its predecessor ~3×, so default inlining would blow up
    * 3^L copies of the pool scan. Recursion ends via the WHERE guard
    * (round cap + target) or naturally when `b` is empty (no pairs
    * left ⇒ HAVING count(*) > 0 yields no row ⇒ CROSS JOIN produces
    * nothing) — the same exhaustion rule as the engine loop.
    */
  private def phraseBpeSql: String = {
    val higher = "(q.cnt > p.cnt OR (q.cnt = p.cnt AND (q.l < p.l OR (q.l = p.l AND q.r < p.r))))"
    // '~'-joined created symbols, the exact literal [[phraseSym]] builds.
    val touches = "(q.l = p.l OR q.l = p.r OR q.r = p.l OR q.r = p.r OR (q.l || '~' || q.r) = p.l OR (q.l || '~' || q.r) = p.r)"
    val levels = (1 to PhraseBpeLevels).map { k =>
      val cand = if (k == 1) "pool" else s"cand$k"
      val pre = if (k == 1) ""
        else s"""blk${k - 1} AS MATERIALIZED (SELECT l AS s FROM acc${k - 1}
           |  UNION SELECT r FROM acc${k - 1}
           |  UNION SELECT l || '~' || r FROM acc${k - 1}),
           |cand$k AS MATERIALIZED (SELECT p.* FROM pool p WHERE NOT EXISTS (
           |  SELECT 1 FROM blk${k - 1} WHERE s = p.l OR s = p.r)),
           |""".stripMargin
      val accBody = if (k == 1) s"SELECT l, r, cnt, 1 AS lev FROM lv1"
        else s"SELECT * FROM acc${k - 1} UNION ALL SELECT l, r, cnt, $k AS lev FROM lv$k"
      s"""${pre}lv$k AS MATERIALIZED (SELECT p.l, p.r, p.cnt FROM $cand p
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM $cand q WHERE $higher AND $touches)),
         |acc$k AS MATERIALIZED ($accBody)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE seqs AS (
       |  SELECT ';' || array_to_string(list_filter(list_transform($sqlToks,
       |      w -> regexp_replace(w, '[^A-Za-z0-9]', '', 'g')),
       |      x -> len(x) > 0), ';;') || ';' AS enc
       |  FROM documents),
       |t(rnd, freq, enc, ms, tot) AS (
       |  SELECT 0, CAST(count(*) AS BIGINT), enc,
       |    CAST(NULL AS STRUCT(l VARCHAR, r VARCHAR, cnt BIGINT)[]),
       |    CAST(0 AS BIGINT)
       |  FROM seqs WHERE enc <> ';;' GROUP BY enc
       |  UNION ALL
       |  SELECT rnd + 1, freq,
       |    list_reduce(list_prepend(enc, list_transform(b.ms,
       |      m -> ';' || m.l || ';;' || m.r || ';' || chr(1) || ';' || m.l || '~' || m.r || ';')),
       |      (acc, p) -> replace(acc, string_split(p, chr(1))[1],
       |        string_split(p, chr(1))[2])),
       |    b.ms, tot + len(b.ms)
       |  FROM t CROSS JOIN (
       |    WITH pr AS (SELECT s[j] AS l, s[j + 1] AS r,
       |        CAST(sum(freq) AS BIGINT) AS cnt
       |      FROM (SELECT freq, string_split(trim(enc, ';'), ';;') AS s FROM t),
       |           unnest(range(1, len(s))) u(j)
       |      GROUP BY 1, 2),
       |    pool AS MATERIALIZED (SELECT l, r, cnt FROM pr
       |      ORDER BY cnt DESC, l, r LIMIT $PhraseBpeW),
       |    $levels
       |    SELECT list(struct_pack(l := l, r := r, cnt := cnt)
       |        ORDER BY lev, cnt DESC, l, r) AS ms
       |    FROM acc$PhraseBpeLevels
       |    HAVING count(*) > 0
       |  ) b
       |  WHERE rnd < $PhraseBpeRoundCap AND tot < $PhraseBpeTarget
       |)
       |SELECT CAST(rnd AS BIGINT) AS round, CAST(bk AS BIGINT) AS bk,
       |  m.l AS lhs, m.r AS rhs, m.cnt AS cnt
       |FROM (SELECT rnd, unnest(generate_series(1, len(ms))) AS bk,
       |        unnest(ms) AS m
       |      FROM (SELECT DISTINCT rnd, ms FROM t WHERE rnd > 0))
       |ORDER BY round, bk""".stripMargin
  }

  /** DuckDB mirror of q214: hyperplane signature over plane literals for
    * the stored P, then the q212 SemDeDup verdict within sig buckets.
    */
  private def semdedupLshSql(p: Int): String = {
    val mat = graft.ohlcv.Encode.randomProjectionMatrix(64, p, SemDedupSeed)
    val sig = mat.zipWithIndex.map { case (pl, i) =>
      s"(CASE WHEN list_dot_product(emb, ${VectorTextQueries.arrLit(pl)}) >= 0" +
        s" THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
       |sg AS (SELECT vec_id, emb, $sig AS cluster FROM v),
       |ps AS (SELECT unnest(generate_series(1, 64)) AS pos),
       |cp AS (SELECT cluster, pos, ${sqlRound("avg(emb[pos])", 6)} AS cv
       |  FROM sg, ps GROUP BY 1, 2),
       |cent AS (SELECT cluster, list(cv ORDER BY pos) AS c FROM cp GROUP BY 1),
       |asg AS (SELECT s.vec_id, s.cluster,
       |    ${sqlRound(
           """list_sum(list_transform(range(1, 65),
                i -> (s.emb[i]-cent.c[i])*(s.emb[i]-cent.c[i])))""", 6)} AS d2,
       |    s.emb
       |  FROM sg s JOIN cent USING (cluster)),
       |dups AS (SELECT DISTINCT y.vec_id FROM asg x JOIN asg y
       |  ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
       |  WHERE ${sqlRound(
           """list_sum(list_transform(range(1, 65), i -> x.emb[i]*y.emb[i])) /
              (sqrt(list_sum(list_transform(range(1, 65), i -> x.emb[i]*x.emb[i]))) *
               sqrt(list_sum(list_transform(range(1, 65), i -> y.emb[i]*y.emb[i]))))""",
           6)} >= 0.35
       |    AND (x.d2 > y.d2 OR (x.d2 = y.d2 AND x.vec_id < y.vec_id)))
       |SELECT CAST(a.cluster AS BIGINT) AS cluster, a.vec_id, a.d2,
       |  CAST(CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
       |    AS is_dup
       |FROM asg a LEFT JOIN dups USING (vec_id)
       |ORDER BY cluster, vec_id""".stripMargin
  }

  private val quality: Seq[Q] = Seq(
    // Gopher-style repetition metrics (Rae et al. 2021 §A1.1): the
    // most-repetitious-2-gram character mass and the duplicated-3-gram
    // character mass, per document (3-grams because the synthetic corpus
    // has a 40-word vocab — its natural repetition length; web text uses
    // 5..10).
    Q("q109_repetition",
      (s, d) => TextOps.repetitionStats(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, len(text) AS nc, $sqlToks AS w FROM documents),
              |b AS (SELECT doc_id, unnest(${sqlShingles(2, "w")}) AS g FROM t),
              |bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
              |bt AS (SELECT doc_id, max(c * len(g)) AS topchars FROM bc GROUP BY 1),
              |f AS (SELECT doc_id, unnest(${sqlShingles(3, "w")}) AS g FROM t),
              |fc AS (SELECT doc_id, g, count(*) AS c FROM f GROUP BY 1, 2),
              |fd AS (SELECT doc_id, CAST(sum(c * len(g)) AS BIGINT) AS dupchars
              |  FROM fc WHERE c >= 2 GROUP BY 1)
              |SELECT t.doc_id, CAST(t.nc AS BIGINT) AS n_chars,
              |  ${sqlRound("CAST(coalesce(bt.topchars, 0) AS DOUBLE) / t.nc", 6)} AS top2_frac,
              |  ${sqlRound("CAST(coalesce(fd.dupchars, 0) AS DOUBLE) / t.nc", 6)} AS dup_frac
              |FROM t LEFT JOIN bt USING (doc_id) LEFT JOIN fd USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // GPT-3-style benchmark decontamination: distinct 8-gram overlap of
    // every candidate doc against the src0 "benchmark" slice.
    Q("q110_contamination",
      (s, d) => Contamination.benchmarkOverlap(Tables.documents(s, d),
          "doc_id", "text", col("source") === "src0", n = 8)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w FROM documents),
              |sh AS (SELECT doc_id, source, unnest(${sqlShingles(8, "w")}) AS g FROM t),
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

    // C4-style cross-document chunk dedup statistic: fraction of each
    // doc's 10-token chunks that occur in at least one other doc.
    Q("q114_chunk_dedup",
      (s, d) => Contamination.chunkDupStats(Tables.documents(s, d),
          "doc_id", "text", chunkTokens = 10)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
              |tt AS (SELECT doc_id, w, len(w) // 10 AS nch FROM t WHERE len(w) // 10 > 0),
              |ch AS (SELECT doc_id,
              |    unnest([${sqlHash60("array_to_string(w[(j*10+1):(j*10+10)], ' ')")}
              |            FOR j IN range(0, nch)]) AS h
              |  FROM tt),
              |nd AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1),
              |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              |    CAST(sum(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ndup
              |  FROM ch JOIN nd USING (h) GROUP BY 1)
              |SELECT doc_id, n_chunks,
              |  ${sqlRound("CAST(ndup AS DOUBLE) / n_chunks", 6)} AS dup_chunk_frac
              |FROM ag ORDER BY doc_id""".stripMargin)),

    // Language-balanced deterministic sample: every lang's expected
    // sampled size equals the smallest lang's size; the keep decision is
    // a pure integer hash coin, reproducible on any cluster layout.
    Q("q113_stratified_sample",
      (s, d) => Sampling.balancedSample(Tables.documents(s, d),
          "doc_id", "lang", salt = "strat")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
              |t AS (SELECT lang, (min(cnt) OVER ()) * 1000000 // cnt AS thresh FROM c)
              |SELECT d.doc_id, d.lang
              |FROM documents d JOIN t USING (lang)
              |WHERE ${sqlHash60("'strat:' || CAST(d.doc_id AS VARCHAR)")} % 1000000 < t.thresh
              |ORDER BY d.doc_id""".stripMargin)))

  private val relevance: Seq[Q] = Seq(
    // Per-domain quality selection: the k best-quality docs per source
    // (the "curate top docs per domain" stage). The rank filter compiles
    // to Spark 4's WindowGroupLimit — per-partition partial top-k before
    // the shuffle, so no source's full doc list ever sorts globally.
    Q("q115_topk_quality",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("source")
          .orderBy(col("quality_score").desc, col("doc_id").asc)
        TextOps.qualityScore(Tables.documents(s, d), "text")
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("source"), col("rank"), col("doc_id"), col("quality_score"))
          .orderBy("source", "rank")
      },
      Some {
        val stopList = TextOps.StopWords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, source, text, $sqlToks AS toks FROM documents),
           |f AS (SELECT doc_id, source,
           |    len(toks)::BIGINT AS n_tokens,
           |    CASE WHEN len(toks) > 0
           |      THEN list_sum(list_transform(toks, x -> len(x)::DOUBLE)) / len(toks) END AS mean_word_len,
           |    CASE WHEN len(toks) > 0
           |      THEN len(list_filter(toks, x -> list_contains($stopList, lower(x))))::DOUBLE / len(toks) END AS stopword_ratio,
           |    CASE WHEN len(text) > 0
           |      THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END AS punct_ratio
           |  FROM t),
           |q AS (SELECT doc_id, source,
           |  ${sqlRound("""CASE WHEN n_tokens = 0 THEN 0.0 ELSE
           |    1.0 * least(1.0, n_tokens::DOUBLE / 16.0)
           |        * least(1.0, stopword_ratio * 8.0)
           |        * greatest(0.0, 1.0 - punct_ratio * 4.0)
           |        * (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
           |  END""", 6)} AS quality_score
           |  FROM f)
           |SELECT source, row_number() OVER (PARTITION BY source
           |    ORDER BY quality_score DESC, doc_id ASC) AS rank,
           |  doc_id, quality_score
           |FROM q
           |QUALIFY rank <= 3
           |ORDER BY source, rank""".stripMargin
      }),

    // BM25 bag-of-terms relevance search (Robertson-Walker): inverted-
    // index-shaped postings restricted to the query terms, broadcast df
    // join, ascending-term sequential score fold, distributed top-k.
    Q("q116_bm25",
      (s, d) => graft.text.Relevance.bm25TopK(Tables.documents(s, d),
          "doc_id", "text", terms = Seq("table", "scan", "merge", "spark"),
          k1 = 1.2, b = 0.75, topK = 20)
        .orderBy("rank"),
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
              |tl AS (SELECT doc_id, len(w)::BIGINT AS dl, w FROM t),
              |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM tl),
              |e AS (SELECT doc_id, dl, unnest(w) AS tok FROM tl),
              |tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
              |  FROM e WHERE tok IN ('table', 'scan', 'merge', 'spark')
              |  GROUP BY 1, 2, 3),
              |dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              |  FROM tf GROUP BY 1),
              |sc AS (SELECT tf.doc_id, tf.tok,
              |    ln(1.0 + (st.n - dft.df + 0.5) / (dft.df + 0.5)) *
              |      (tf.tf * (1.2 + 1.0)) /
              |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / (CAST(st.sdl AS DOUBLE) / st.n))) AS part
              |  FROM tf JOIN dft USING (tok) CROSS JOIN st),
              |ag AS (SELECT doc_id,
              |    ${sqlRound("list_sum(list(part ORDER BY tok))", 6)} AS score
              |  FROM sc GROUP BY 1)
              |SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
              |  doc_id, score
              |FROM ag
              |QUALIFY rank <= 20
              |ORDER BY rank""".stripMargin)))

  private val pq: Seq[Q] = Seq(
    // Product-quantization ADC search: codebook = subvectors of corpus
    // vectors 0–3 (deterministic, pluggable in production via k-means),
    // corpus = vec_id ≥ 5 encoded to 4 codes each, query = vec_id 4
    // scored by asymmetric distance, top-10.
    Q("q111_pq_adc",
      (s, d) => {
        val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        val cb = Pq.codebook(emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          m = 4, subDim = 16)
        val codes = Pq.encode(emb.filter(col("vec_id") >= 5), "vec_id", "embedding",
          cb, m = 4, subDim = 16)
        Pq.adcTopK(codes, "vec_id", cb, emb.filter(col("vec_id") === 4),
            "embedding", m = 4, subDim = 16, k = 10)
          .select(col("rank"), col("vec_id"), pround(col("adc"), 6).as("adc"))
          .orderBy("rank")
      },
      Some(s"""WITH subs AS (SELECT unnest(range(0, 4)) AS sub),
              |cbv AS (SELECT vec_id AS code, embedding::DOUBLE[] AS v
              |  FROM embeddings WHERE vec_id < 4),
              |cb AS (SELECT sub, code, v[(sub*16+1):(sub*16+16)] AS sv FROM cbv, subs),
              |corp AS (SELECT vec_id, embedding::DOUBLE[] AS v
              |  FROM embeddings WHERE vec_id >= 5),
              |cs AS (SELECT vec_id, sub, v[(sub*16+1):(sub*16+16)] AS sv FROM corp, subs),
              |d AS (SELECT cs.vec_id, cs.sub, cb.code,
              |    list_sum(list_transform(range(1, 17),
              |      i -> (cs.sv[i]-cb.sv[i])*(cs.sv[i]-cb.sv[i]))) AS d2
              |  FROM cs JOIN cb ON cs.sub = cb.sub),
              |codes AS (SELECT vec_id, sub, code FROM
              |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
              |     ORDER BY d2 ASC, code ASC) AS rn FROM d)
              |  WHERE rn = 1),
              |q AS (SELECT embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id = 4),
              |qs AS (SELECT sub, v[(sub*16+1):(sub*16+16)] AS qv FROM q, subs),
              |lut AS (SELECT cb.sub, cb.code,
              |    list_sum(list_transform(range(1, 17),
              |      i -> (qs.qv[i]-cb.sv[i])*(qs.qv[i]-cb.sv[i]))) AS d2
              |  FROM cb JOIN qs ON cb.sub = qs.sub),
              |adc AS (SELECT c.vec_id, list_sum(list(l.d2 ORDER BY c.sub)) AS adc
              |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
              |  GROUP BY 1)
              |SELECT row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rank,
              |  vec_id, ${sqlRound("adc", 6)} AS adc
              |FROM adc
              |QUALIFY rank <= 10
              |ORDER BY rank""".stripMargin)))

  private val streamingChecked: Seq[Q] = Seq(
    // Watermarked streaming tumbling OHLCV: append-mode emission — only
    // buckets whose END the final watermark (max event time − 2 days)
    // has passed are committed; the oracle applies the same cut to the
    // batch aggregation.
    Q("q112_stream_ohlcv",
      (s, d) => {
        import graft.streaming.{StreamHarness, StreamingIngest}
        val stream = StreamHarness.eventStream(s, d)
          .withColumn("ts_t", col("ts"))
        val agg = StreamingIngest.tumblingOhlcv(stream, "ts_t", "value",
          "event_type", "1 day", "2 days", tieCol = Some("event_id"))
        StreamHarness.runMemory(agg, "q112") { t =>
          t.select(col("event_type"),
            col("bucket_start").cast("long").as("bucket_s"),
            pround(col("open"), 6).as("open"), pround(col("high"), 6).as("high"),
            pround(col("low"), 6).as("low"), pround(col("close"), 6).as("close"),
            pround(col("volume"), 6).as("volume"), col("n_events"))
            .orderBy("event_type", "bucket_s")
        }
      },
      Some(s"""WITH e AS (SELECT event_type, event_id,
              |    CAST(epoch_us(ts) AS BIGINT) AS us, value FROM events),
              |wm AS (SELECT (max(us) // 1000) * 1000 - 172800000000 AS wm_us FROM e),
              |b AS (SELECT event_type, event_id, us, value,
              |    (us // 86400000000) * 86400 AS bucket_s FROM e),
              |r AS (SELECT *,
              |    row_number() OVER (PARTITION BY event_type, bucket_s
              |      ORDER BY us ASC, event_id ASC) AS rf,
              |    row_number() OVER (PARTITION BY event_type, bucket_s
              |      ORDER BY us DESC, event_id DESC) AS rl
              |  FROM b),
              |g AS (SELECT event_type, bucket_s,
              |    max(CASE WHEN rf = 1 THEN value END) AS open,
              |    max(value) AS high, min(value) AS low,
              |    max(CASE WHEN rl = 1 THEN value END) AS close,
              |    sum(value) AS volume, CAST(count(*) AS BIGINT) AS n_events
              |  FROM r GROUP BY 1, 2)
              |SELECT event_type, bucket_s, ${sqlRound("open", 6)} AS open,
              |  ${sqlRound("high", 6)} AS high, ${sqlRound("low", 6)} AS low,
              |  ${sqlRound("close", 6)} AS close, ${sqlRound("volume", 6)} AS volume,
              |  n_events
              |FROM g, wm WHERE (bucket_s + 86400) * 1000000 <= wm.wm_us
              |ORDER BY event_type, bucket_s""".stripMargin)))

  /** DuckDB quality-score subquery over a relation with (doc_id, lang,
    * text) — the q44 formula composable as a FROM-clause fragment.
    * `extra` names additional columns of `srcRel` to carry through
    * unchanged (q281 needs `source` next to the score).
    */
  private[graft] def sqlQuality(srcRel: String, extra: Seq[String] = Nil): String = {
    val ex = extra.map(c => s", $c").mkString
    val stopList = TextOps.StopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, lang, text$ex,
       |  ${sqlRound("""CASE WHEN n_tokens = 0 THEN 0.0 ELSE
       |    1.0 * least(1.0, n_tokens::DOUBLE / 16.0)
       |        * least(1.0, stopword_ratio * 8.0)
       |        * greatest(0.0, 1.0 - punct_ratio * 4.0)
       |        * (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
       |  END""", 6)} AS quality_score
       |FROM (SELECT doc_id, lang, text$ex,
       |    len(toks)::BIGINT AS n_tokens,
       |    CASE WHEN len(toks) > 0
       |      THEN list_sum(list_transform(toks, x -> len(x)::DOUBLE)) / len(toks) END AS mean_word_len,
       |    CASE WHEN len(toks) > 0
       |      THEN len(list_filter(toks, x -> list_contains($stopList, lower(x))))::DOUBLE / len(toks) END AS stopword_ratio,
       |    CASE WHEN len(text) > 0
       |      THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END AS punct_ratio
       |  FROM (SELECT doc_id, lang, text$ex, $sqlToks AS toks FROM $srcRel))""".stripMargin
  }

  private val composed: Seq[Q] = Seq(
    // The operators COMPOSE: exact dedup (keep-min-id per fingerprint) →
    // quality floor → language-balanced sample → sequence packing, one
    // lazy plan end-to-end, hash-checked against the same four stages in
    // SQL. This is the shape of a real corpus-prep job; every stage is
    // individually oracle-checked elsewhere (q40/q44/q113/q75).
    Q("q117_pipeline_e2e",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("__fp").orderBy("doc_id")
        val deduped = Tables.documents(s, d)
          .withColumn("__fp", TextOps.fingerprint(col("text")))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__fp", "__rn")
        val qual = TextOps.qualityScore(deduped, "text")
          .filter(col("quality_score") >= 0.5)
        val sampled = Sampling.balancedSample(qual, "doc_id", "lang", salt = "mix")
        graft.text.Packing.packSequences(sampled, "doc_id",
            TextOps.subwordCount(col("text")), budget = 512L)
          .orderBy("doc_id")
      },
      Some(s"""WITH dd AS (SELECT doc_id, lang, text FROM documents
              |  QUALIFY row_number() OVER (
              |    PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
              |    ORDER BY doc_id) = 1),
              |qf AS (SELECT * FROM (${sqlQuality("dd")}) WHERE quality_score >= 0.5),
              |c AS (SELECT lang, count(*) AS cnt FROM qf GROUP BY 1),
              |t AS (SELECT lang, (min(cnt) OVER ()) * 1000000 // cnt AS thresh FROM c),
              |sm AS (SELECT qf.doc_id, qf.text FROM qf JOIN t USING (lang)
              |  WHERE ${sqlHash60("'mix:' || CAST(qf.doc_id AS VARCHAR)")} % 1000000 < t.thresh),
              |tok AS (SELECT doc_id,
              |    len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]')) AS n_tokens
              |  FROM sm),
              |cum AS (SELECT doc_id, n_tokens,
              |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
              |  FROM tok)
              |SELECT doc_id, n_tokens::BIGINT AS n_tokens,
              |  (cum_excl // 512)::BIGINT AS batch_id,
              |  (cum_excl % 512)::BIGINT AS batch_offset
              |FROM cum ORDER BY doc_id""".stripMargin)),

    // Sliding-window streaming aggregation under the same watermark cut
    // as q112 — each event lands in width/slide windows; append mode
    // emits exactly the windows the final watermark closed. Completes
    // the oracle-checked streaming matrix: upsert sink (q103), stateful
    // recurrence (q106), tumbling agg (q112), sliding agg (here).
    Q("q118_stream_sliding",
      (s, d) => {
        import graft.streaming.{StreamHarness, StreamingIngest}
        val stream = StreamHarness.eventStream(s, d)
          .withColumn("ts_t", col("ts"))
        val agg = StreamingIngest.slidingMean(stream, "ts_t", "value",
          "event_type", "4 hours", "1 hour", "2 days")
        StreamHarness.runMemory(agg, "q118") { t =>
          t.select(col("event_type"),
            col("bucket_start").cast("long").as("bucket_s"),
            pround(col("mean_value"), 6).as("mean_value"), col("n_events"))
            .orderBy("event_type", "bucket_s")
        }
      },
      Some(s"""WITH e AS (SELECT event_type,
              |    CAST(epoch_us(ts) AS BIGINT) AS us, value FROM events),
              |wm AS (SELECT (max(us) // 1000) * 1000 - 172800000000 AS wm_us FROM e),
              |x AS (SELECT event_type, us, value,
              |    ((us // 3600000000) - k) * 3600 AS bucket_s
              |  FROM e, (SELECT unnest(range(0, 4)) AS k) kk),
              |g AS (SELECT event_type, bucket_s,
              |    ${sqlRound("avg(value)", 6)} AS mean_value,
              |    CAST(count(*) AS BIGINT) AS n_events
              |  FROM x GROUP BY 1, 2)
              |SELECT event_type, bucket_s, mean_value, n_events
              |FROM g, wm WHERE (bucket_s + 14400) * 1000000 <= wm.wm_us
              |ORDER BY event_type, bucket_s""".stripMargin)),

    // Streaming corpus hygiene: documents ARRIVE as a stream and each
    // micro-batch is decontaminated against a static benchmark gram-hash
    // set inside a checkpointed foreachBatch. The sink write is
    // IDEMPOTENT: each batch overwrites its own batchId-keyed
    // subdirectory, so a batch replayed after a crash-before-commit
    // rewrites the same rows instead of duplicating them — end-to-end
    // exactly-once in the committed result, the same discipline as
    // q103's idempotent keyed merge. The file source batches whole
    // files, so every doc's grams stay within one batch and the
    // per-doc distinct is exact — the committed sink equals the batch
    // q110 overlap, which is the oracle.
    Q("q209_stream_decontam",
      (s, d) => {
        import graft.streaming.StreamHarness
        val bench = Cached.persist(Tables.documents(s, d)
          .filter(col("source") === "src0")
          .select(explode(TextOps.wordShingles(col("text"), 8)).as("__g"))
          .select(TextOps.md5Hash60(col("__g")).as("__h")).distinct())
        bench.count()
        StreamHarness.runForeachBatch(StreamHarness.documentStream(s, d), "q209") {
          (batch, batchId, sink) =>
            val cand = batch.filter(col("source") =!= "src0")
              .select(col("doc_id"),
                explode(TextOps.wordShingles(col("text"), 8)).as("__g"))
              .select(col("doc_id"), TextOps.md5Hash60(col("__g")).as("__h"))
              .distinct()
            val shared = cand.join(broadcast(bench), "__h")
              .groupBy("doc_id").agg(count(lit(1)).as("__n"))
            batch.filter(col("source") =!= "src0").select("doc_id")
              .join(shared, Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("__n"), lit(0L)).as("n_shared"),
                (coalesce(col("__n"), lit(0L)) > 0).as("contaminated"))
              // batch=<id> partition-style subdir + overwrite = replay-safe.
              .write.mode("overwrite").parquet(s"$sink/batch=$batchId")
        } { sink =>
          s.read.parquet(sink)
            .select("doc_id", "n_shared", "contaminated").orderBy("doc_id")
        }
      },
      Some(s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w FROM documents),
              |sh AS (SELECT doc_id, source, unnest(${sqlShingles(8, "w")}) AS g FROM t),
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
              |ORDER BY d.doc_id""".stripMargin)))

  private val ml: Seq[Q] = Seq(
    // kNN classification: majority label of the 5 nearest corpus
    // vectors (ties → smaller label). The search is the oracle-proven
    // q30 broadcast-kNN plan; the classifier adds one tiny aggregation
    // over the k·queries candidate rows.
    Q("q119_knn_classify",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("embedding"))
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
        val corpus = emb.filter(col("vec_id") >= 5)
        val knn = graft.ohlcv.Search.knnJoin(corpus, queries, "vec_id",
          "embedding", "query_id", "query_vec", k = 5, metricName = "cosine_dist")
        val votes = knn.groupBy("query_id", "label")
          .agg(count(lit(1)).as("votes"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("label").asc)
        votes.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("query_id"), col("label").as("pred_label"), col("votes"))
          .orderBy("query_id")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              |  FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
              |  FROM embeddings WHERE vec_id >= 5),
              |scored AS (SELECT query_id, vec_id, label,
              |    1.0 - ${VectorTextQueries.sqlCosine("v", "qv")} AS dist FROM c, q),
              |ranked AS (SELECT query_id, label,
              |    row_number() OVER (PARTITION BY query_id
              |      ORDER BY dist ASC, vec_id ASC) AS rank
              |  FROM scored),
              |votes AS (SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
              |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2)
              |SELECT query_id, label AS pred_label, votes FROM votes
              |QUALIFY row_number() OVER (PARTITION BY query_id
              |  ORDER BY votes DESC, label ASC) = 1
              |ORDER BY query_id""".stripMargin)),

    // One Lloyd (k-means) iteration at scale: seed centroids = per-label
    // means ROUNDED to 6 dp (rounding makes the seed bit-identical on
    // both engines despite shuffle-order mean sums, so the argmin
    // assignment is exact parity); every vector re-assigns to its
    // nearest seed (broadcast join + codegen'd squared L2, ties → lower
    // label); new per-cluster centroids come out of one aggregation.
    Q("q120_kmeans_step",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.graft.GraftExpressions.arraySqDiff
        val v = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("emb"))
        val cents = v
          .select(col("label"), posexplode(col("emb")))
          .withColumn("pos", col("pos") + 1)
          .groupBy("label", "pos")
          .agg(pround(avg("col"), 6).as("cv"))
          .groupBy("label")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
            s => s.getField("cv")).as("c"))
          .select(col("label").as("cl"), col("c"))
        val w = Window.partitionBy("vec_id").orderBy(col("__d2").asc, col("cl").asc)
        val assigned = v.crossJoin(broadcast(cents))
          .withColumn("__d2", arraySqDiff(col("emb"), col("c")))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("vec_id"), col("cl"), col("emb"))
        assigned
          .select(col("cl"), posexplode(col("emb")))
          .withColumn("pos", col("pos") + 1)
          .groupBy("cl", "pos")
          .agg(pround(avg("col"), 6).as("centroid_val"),
            count(lit(1)).as("n"))
          .select(col("cl").as("cluster"), col("pos"),
            col("centroid_val"), col("n"))
          .orderBy("cluster", "pos")
      },
      Some(s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
              |  FROM embeddings),
              |ps AS (SELECT unnest(generate_series(1, 64)) AS pos),
              |cp AS (SELECT label, pos, ${sqlRound("avg(emb[pos])", 6)} AS cv
              |  FROM v, ps GROUP BY 1, 2),
              |cent AS (SELECT label AS cl, list(cv ORDER BY pos) AS c
              |  FROM cp GROUP BY 1),
              |d AS (SELECT v.vec_id, cent.cl,
              |    list_sum(list_transform(range(1, 65),
              |      i -> (v.emb[i]-cent.c[i])*(v.emb[i]-cent.c[i]))) AS d2
              |  FROM v, cent),
              |asg AS (SELECT vec_id, cl FROM
              |  (SELECT *, row_number() OVER (PARTITION BY vec_id
              |     ORDER BY d2 ASC, cl ASC) AS rn FROM d) WHERE rn = 1)
              |SELECT asg.cl AS cluster, ps.pos,
              |  ${sqlRound("avg(v.emb[ps.pos])", 6)} AS centroid_val,
              |  CAST(count(*) AS BIGINT) AS n
              |FROM v JOIN asg USING (vec_id), ps
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))

  private val ordered: Seq[Q] = Seq(
    // Backward as-of join (pandas merge_asof / DuckDB ASOF JOIN): every
    // click joins the user's most recent view at-or-before it. The
    // engine's union-then-window encoding is checked against DuckDB's
    // NATIVE ASOF LEFT JOIN — two independent formulations of the
    // semantics.
    Q("q121_asof_join",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("us"), col("event_id"), col("value"))
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("us"), col("event_id"), col("value"))
        graft.operators.AsOf.asofBackward(clicks, views, "user_id", "us",
            "event_id", leftPayload = Seq("value"),
            rightPayload = Seq("event_id", "value"))
          .select(col("user_id"), col("us"), col("event_id"),
            pround(col("value"), 6).as("value"),
            col("r_event_id"), pround(col("r_value"), 6).as("r_value"))
          .orderBy("event_id")
      },
      Some(s"""WITH e AS (SELECT user_id, event_type,
              |    CAST(epoch_us(ts) AS BIGINT) AS us, event_id, value FROM events),
              |v AS (SELECT user_id, us, event_id, value FROM
              |  (SELECT user_id, us, event_id, value,
              |     row_number() OVER (PARTITION BY user_id, us
              |       ORDER BY event_id DESC) AS rn
              |   FROM e WHERE event_type = 'view') WHERE rn = 1)
              |SELECT c.user_id, c.us, c.event_id,
              |  ${sqlRound("c.value", 6)} AS value,
              |  v.event_id AS r_event_id, ${sqlRound("v.value", 6)} AS r_value
              |FROM (SELECT * FROM e WHERE event_type = 'click') c
              |ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.us >= v.us
              |ORDER BY c.event_id""".stripMargin)),

    // Gap-based sessionization (2 h): per-session event count and span.
    Q("q122_sessionize",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
        graft.operators.AsOf.sessionize(e, "user_id", "us", "event_id",
            gap = 7200000000L)
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min("us").as("start_us"), max("us").as("end_us"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             |    event_id FROM events),
             |m AS (SELECT user_id, us, event_id,
             |    CASE WHEN lag(us) OVER w IS NULL
             |           OR us - lag(us) OVER w > 7200000000 THEN 1 ELSE 0 END AS nw
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |sgm AS (SELECT user_id, us,
             |    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             |  FROM m)
             |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
             |  min(us) AS start_us, max(us) AS end_us
             |FROM sgm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))

  private val lm: Seq[Q] = Seq(
    // Unigram-LM cross-entropy scoring (the CCNet/KenLM "perplexity
    // filter" stage, public knowledge): p(w) = corpus count / total
    // tokens; score(d) = −Σ ln p(w) / |d|. The LM is one aggregation
    // (broadcast back); scoring joins tokens against it and folds per
    // doc in POSITION order (sequential fp, oracle-mirrorable).
    Q("q123_perplexity",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
          .select(col("doc_id"), col("pos"), col("col").as("tok"))
        val totals = toks.agg(count(lit(1)).as("__total"))
        val lmT = toks.groupBy("tok").agg(count(lit(1)).as("__c"))
        val scored = toks
          .join(broadcast(lmT), Seq("tok"))
          .crossJoin(broadcast(totals))
          .withColumn("__nll", -log(col("__c").cast("double") / col("__total")))
        scored.groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            pround(
              aggregate(
                transform(array_sort(collect_list(struct(col("pos"), col("__nll")))),
                  x => x.getField("__nll")),
                lit(0.0), (acc, x) => acc + x) / count(lit(1)), 6)
              .as("cross_entropy"))
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, i AS pos, w[i] AS tok FROM
              |  (SELECT doc_id, $sqlToks AS w FROM documents),
              |  LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tk),
              |lm AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
              |sc AS (SELECT tk.doc_id, tk.pos,
              |    -ln(CAST(lm.c AS DOUBLE) / tot.total) AS nll
              |  FROM tk JOIN lm USING (tok) CROSS JOIN tot)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |  ${sqlRound("list_sum(list(nll ORDER BY pos)) / count(*)", 6)} AS cross_entropy
              |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Streaming session windows (Spark's session_window) under the
    // watermark cut: a session is emitted once the watermark passes its
    // end; the oracle rebuilds the same sessions with the batch gap rule
    // and applies the same cut. Closes SURVEY §2.9's last row ("session
    // windows — built-in if ever needed").
    Q("q124_stream_sessions",
      (s, d) => {
        import graft.streaming.StreamHarness
        val stream = StreamHarness.eventStream(s, d)
          .withColumn("ts_t", col("ts"))
        val agg = stream
          .withWatermark("ts_t", "2 days")
          .groupBy(col("user_id"), session_window(col("ts_t"), "2 hours"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("start_t"),
            col("session_window.end").as("end_t"), col("n_events"))
        StreamHarness.runMemory(agg, "q124") { t =>
          t.select(col("user_id"), unix_micros(col("start_t")).as("start_us"),
            unix_micros(col("end_t")).as("end_us"), col("n_events"))
            .orderBy("user_id", "start_us")
        }
      },
      Some("""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             |    event_id FROM events),
             |wm AS (SELECT (max(us) // 1000) * 1000 - 172800000000 AS wm_us FROM e),
             |m AS (SELECT user_id, us,
             |    CASE WHEN lag(us) OVER w IS NULL
             |           OR us - lag(us) OVER w > 7200000000 THEN 1 ELSE 0 END AS nw
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |sgm AS (SELECT user_id, us,
             |    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY us
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
             |  FROM m),
             |g AS (SELECT user_id, sid, min(us) AS start_us,
             |    max(us) + 7200000000 AS end_us,
             |    CAST(count(*) AS BIGINT) AS n_events
             |  FROM sgm GROUP BY 1, 2)
             |SELECT user_id, start_us, end_us, n_events
             |FROM g, wm WHERE end_us <= wm.wm_us
             |ORDER BY user_id, start_us""".stripMargin)))

  /** q125's surviving corpus (every unclustered doc plus each simhash
    * cluster's min-id keeper) — shared by q125 and the q232 token
    * accounting so the APPLY rule has exactly one definition. */
  private def dedupSurvivors(s: SparkSession, d: String): DataFrame = {
    import graft.text.Dedup
    val docs = Tables.documents(s, d)
    val fps = Cached.persist(Dedup.simhashAgg(docs, "doc_id",
      TextOps.wordShingles(col("text"), 3), 60))
    fps.count()
    val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "simhash",
      maxHamming = 6, bits = 60)
    val losers = Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"))
    val out = docs.join(losers, Seq("doc_id"), "left_anti")
    Cached.release(fps)
    out
  }

  /** DuckDB CTE chain mirroring [[dedupSurvivors]]; callers append their
    * own SELECT over `documents d WHERE d.doc_id NOT IN losers`. Must be
    * opened with `WITH RECURSIVE`. */
  private def dedupSurvivorsSqlCtes: String = {
    val sub = VectorTextQueries.simhashSql(60)
    s"""fps AS ($sub),
       |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
       |  FROM fps a, fps b
       |  WHERE a.doc_id <> b.doc_id
       |    AND bit_count(xor(a.simhash, b.simhash)) <= 6),
       |reach AS (
       |  SELECT src, dst FROM e0
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src),
       |losers AS (SELECT src AS doc_id FROM reach GROUP BY src
       |  HAVING least(src, min(dst)) <> src)""".stripMargin
  }

  /** Banded-tier CANDIDATE pairs with their exact shingle-set overlap:
    * q52's minhash band join proposes candidates, then each candidate's
    * exact 3-shingle intersection is counted — no threshold applied.
    * Columns (id_a, id_b, n_a, n_b, n_inter); exact Jaccard is
    * n_inter / (n_a + n_b − n_inter). Shared prefix of
    * [[bandedVerifiedPairs]] (the J ≥ 0.5 verify) and q243's tier
    * calibration grid (which needs the REJECTED candidates too).
    */
  private[graft] def bandedCandidateOverlap(s: SparkSession, d: String): DataFrame = {
    import graft.text.Dedup
    val docs = Tables.documents(s, d)
    val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 12, bands = 4)
      .select("id_a", "id_b")
    val sh = docs.select(col("doc_id"), explode(array_distinct(
        TextOps.wordShingles(col("text"), 3))).as("__s"))
      .select(col("doc_id"), TextOps.md5Hash60(col("__s")).as("shingle"))
      .distinct()
    val sets = sh.groupBy("doc_id")
      .agg(sort_array(collect_list(col("shingle"))).as("hs"),
        count(lit(1)).as("n"))
    cand
      .join(sets.select(col("doc_id").as("id_a"),
        col("hs").as("hs_a"), col("n").as("n_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"),
        col("hs").as("hs_b"), col("n").as("n_b")), "id_b")
      .withColumn("n_inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .select("id_a", "id_b", "n_a", "n_b", "n_inter")
  }

  /** Verified near-dup pairs on the BANDED tier — q52's minhash band
    * join proposes candidates, exact n-gram Jaccard (q42's J ≥ 0.5 bar)
    * verifies candidates only. The composition the round-11 100× tier
    * sweep measured linear (SCALING.md), shared by q239 (accounting)
    * and q240 (prevalence histogram); SQL twin below.
    */
  private[graft] def bandedVerifiedPairs(s: SparkSession, d: String): DataFrame =
    bandedCandidateOverlap(s, d)
      .filter(col("n_inter").cast("double") /
        (col("n_a") + col("n_b") - col("n_inter")).cast("double") >= 0.5)
      .select("id_a", "id_b")

  /** DuckDB CTE chain mirroring [[bandedCandidateOverlap]] up to
    * per-candidate overlap counts: ends at `inter(id_a, id_b, ni)` with
    * `sz(doc_id, n)` alongside. NOTE: candidates whose exact shingle
    * intersection is EMPTY produce no `inter` row (the join-then-count
    * form) — the Spark side's n_inter = 0 rows; consumers that need
    * zero-overlap candidates must LEFT JOIN `cand` to `inter`.
    */
  private[graft] def bandedCandidateSqlCtes: String = {
    val q52 = VectorTextQueries.all
      .find(_.name == "q52_minhash_pairs").get.oracle.get
    s"""cand AS ($q52),
       |toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ${sqlHash60("s0")} AS s FROM (
       |  SELECT doc_id, unnest(list_distinct(${sqlShingles(3)})) AS s0
       |  FROM toks WHERE len(toks) >= 3)),
       |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |  FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS ni
       |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
       |    JOIN sh b ON b.doc_id = c.id_b AND a.s = b.s
       |  GROUP BY c.id_a, c.id_b)""".stripMargin
  }

  /** DuckDB CTE chain mirroring [[bandedVerifiedPairs]] plus the
    * connected components over them: verified pairs `p`, per-doc
    * components `comp` (min-reachable-id cluster labels), and min-id
    * `losers`. Nests q52's registered SQL verbatim (drift-proof). Must
    * be opened with `WITH RECURSIVE`.
    */
  private[graft] def bandedVerifiedSqlCtes: String = {
    s"""$bandedCandidateSqlCtes,
       |p AS (SELECT i.id_a, i.id_b FROM inter i
       |  JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
       |  WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= 0.5),
       |e0 AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM p),
       |reach AS (
       |  SELECT src, dst FROM e0
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src),
       |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
       |  FROM reach GROUP BY src),
       |losers AS (SELECT doc_id FROM comp WHERE cluster <> doc_id)""".stripMargin
  }

  private val dedupApply: Seq[Q] = Seq(
    // The APPLY step of near-dup dedup: q107 detects clusters (simhash
    // pairs → connected components); this query emits the surviving
    // corpus — every unclustered doc plus each cluster's min-id keeper —
    // i.e. what a pipeline actually writes out after dedup. Non-keepers
    // are removed by a left-anti join (no fan-out, keeps corpus order).
    Q("q125_dedup_apply",
      (s, d) => dedupSurvivors(s, d)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id"),
      Some {
        s"""WITH RECURSIVE $dedupSurvivorsSqlCtes
           |SELECT d.doc_id, d.lang, d.source FROM documents d
           |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
           |ORDER BY d.doc_id""".stripMargin
      },
      // Rides the exact simhash band self-join (N² at scale, measured —
      // SCALING.md round-11 100× sweep); the linear twin applies the
      // same min-id keeper rule over the minhash-proposed,
      // hamming-verified pair tier.
      scaleLimited = Some("q258_dedup_apply_banded")))

  /** Maximal duplicated-substring spans at threshold L (q206/q208 core):
    * stride-1 L-grams at every position, global count ≥ 2 via a
    * gram-keyed aggregation (round-18: an agg + duplicated-gram join —
    * see [[exactSubstrSpans]] — instead of the original window-over-gram,
    * which shuffled and SORTED every (doc_id, pos, gram) row), duplicated
    * positions merged into per-doc spans by a prefix scan. Columns:
    * (doc_id, span_id, span_start, span_end, n_positions).
    */
  private[graft] def exactSubstrUniverse(s: SparkSession, d: String, L: Int): DataFrame =
    Tables.documents(s, d)
      .filter(col("text").rlike("^[\\x00-\\x7F]*$") && length(col("text")) >= L)
      .select("doc_id", "text")

  /** Stride-1 L-grams at every position: (doc_id, pos, gram).
    * Round-18 (§1.2 per-task work): explode the POSITION sequence and
    * slice the gram in the follow-on projection — the old
    * transform(sequence, i -> substring) materialized the full per-doc
    * gram ARRAY (≈ 30× the text bytes in short-lived allocations)
    * before posexplode; positions are four-byte ints and the substring
    * now runs once per emitted row inside the same codegen stage, with
    * `text` dropped before anything is shuffled.
    */
  private def substrGrams(docs: DataFrame, L: Int): DataFrame =
    docs.select(col("doc_id"), col("text"),
      explode(sequence(lit(0), length(col("text")) - L)).as("__p"))
      .select(col("doc_id"), col("__p").cast("long").as("pos"),
        expr(s"substring(text, __p + 1, $L)").as("gram"))

  /** Merge duplicated positions into maximal per-doc spans (the ranges
    * ExactSubstr cuts out) via a per-doc prefix scan.
    */
  private def spansFromDupPositions(dupPos: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("__prev_end",
        max(col("pos") + L).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("pos") > coalesce(col("__prev_end"), lit(-1L)), 1L).otherwise(0L))
      .withColumn("span_id", sum("__brk").over(w))
      .groupBy("doc_id", "span_id")
      .agg(min("pos").as("span_start"), (max("pos") + L).as("span_end"),
        count(lit(1)).as("n_positions"))
      .select(col("doc_id"), col("span_id"), col("span_start"),
        col("span_end"), col("n_positions"))
  }

  private[graft] def exactSubstrSpans(docs: DataFrame, L: Int): DataFrame = {
    // Round-18 restructure (guide §2.3 shuffle fewer bytes, §2.4 remove
    // the sort, §3.1 broadcast attach). Was: count(*) OVER (PARTITION BY
    // gram) — one Exchange of EVERY (doc_id, pos, gram) row (~46 B/rec)
    // plus a full SORT by the 30-char gram inside the window. Now the
    // duplicate decision is an AGGREGATION (map-side partial, no sort)
    // whose exchange carries the gram alone, and the small duplicated-
    // gram set joins back against a re-derived gram stream — AQE sees
    // the aggregated side's true size and broadcasts it, so the heavy
    // (doc_id, pos, gram) rows are never shuffled at all. Identical
    // dupPos rows by construction: count-per-gram is the same number
    // either way, and the inner join against the DISTINCT duplicated
    // grams keeps exactly the positions the window filter kept. The
    // unchanged q206 oracle pins it. Both consumers re-derive the gram
    // stream from the documents: nothing is cached, so nothing outlives
    // the query.
    val grams = substrGrams(docs, L)
    val dup = grams
      .groupBy("gram").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= 2)
      .select("gram")
    val dupPos = grams
      .join(dup, Seq("gram"))
      .select("doc_id", "pos")
    spansFromDupPositions(dupPos, L)
  }

  /** [[exactSubstrSpans]] with the 100 TB shuffle key: the heavy
    * all-positions aggregation shuffles (doc_id, pos, xxhash64(gram)) —
    * a fixed 8-byte key instead of an L-char string. Measured at sf0.1
    * (SCALING.md "Shuffle width", compression off): 91.3 → 58.6 MiB
    * total, 65 → 38.5 bytes/record — the key itself narrows ~4×
    * (30 B → 8 B) but doc_id+pos+row overhead dilute the total to ~1.7×
    * per record, and default lz4 narrows the gap further on THIS corpus
    * because repetitive ASCII grams compress well; on a high-entropy 100 TB
    * corpus the hash key's advantage is the uncompressed one.
    * Hash-duplicated positions (a small superset of the truly
    * duplicated ones) then join back to the documents on doc_id, the
    * raw gram is re-derived by substring — so no gram string ever enters
    * the wide shuffle — and a second count over the RAW gram discards
    * collision false-positives. Exactness: count(h(g)) ≥ count(g), so
    * every truly duplicated position survives the candidate cut, and
    * within candidates every occurrence of a gram is present, so the
    * raw-gram count equals the global count — identical spans to
    * [[exactSubstrSpans]] by construction, which is why q211 shares
    * q206's oracle.
    */
  private[graft] def exactSubstrSpansHashKey(docs: DataFrame, L: Int): DataFrame = {
    // Round-18 note (§1.1 empirical loop): an agg+broadcast-join
    // restructure of level 1 (count the 8-byte hash alone, attach the
    // dup set back) was MEASURED SLOWER here — it needs the gram stream
    // twice, and the generate pass dominates this operator at bench
    // scale (two generates ≈ 6.1 s warm vs 2.8 s for the single-pass
    // window; the h-sort the window pays is a cheap LONG sort). The
    // single-pass window-over-h stays; the generate itself got cheaper
    // (see [[substrGrams]]).
    import org.apache.spark.sql.expressions.Window
    val candPos = substrGrams(docs, L)
      .select(col("doc_id"), col("pos"), xxhash64(col("gram")).as("h"))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("__cnt") >= 2)
      .select("doc_id", "pos")
    val dupPos = candPos
      .join(docs.select("doc_id", "text"), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        expr(s"substring(text, cast(pos as int) + 1, $L)").as("gram"))
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("__cnt") >= 2)
      .select("doc_id", "pos")
    spansFromDupPositions(dupPos, L)
  }

  /** The APPLY step over [[exactSubstrSpans]]: excise every span from
    * its document via a per-doc fold over the sorted non-overlapping
    * spans; emit (doc_id, orig_len, kept_len, n_spans, h) where `h` is
    * the portable 60-bit hash of the cleaned text.
    */
  private[graft] def exactSubstrApply(docs: DataFrame, L: Int): DataFrame = {
    val spanArr = exactSubstrSpans(docs, L)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("sp"),
        count(lit(1)).as("n_spans"))
    docs.join(spanArr, Seq("doc_id"), "left")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumn("sp", coalesce(col("sp"),
        expr("CAST(array() AS array<struct<span_start:bigint,span_end:bigint>>)")))
      .withColumn("cleaned", expr(
        """concat(
          |  aggregate(sp,
          |    named_struct('pos', 0L, 'out', ''),
          |    (acc, s) -> named_struct(
          |      'pos', s.span_end,
          |      'out', concat(acc.out,
          |        substring(text, cast(acc.pos as int) + 1,
          |          cast(s.span_start - acc.pos as int)))),
          |    acc -> acc.out),
          |  substring(text,
          |    cast(coalesce(try_element_at(sp, -1).span_end, 0L) as int) + 1,
          |    length(text)))""".stripMargin))
      .select(col("doc_id"), length(col("text")).cast("long").as("orig_len"),
        length(col("cleaned")).cast("long").as("kept_len"), col("n_spans"),
        graft.text.TextOps.md5Hash60(col("cleaned")).as("h"))
  }

  /** DuckDB CTE chain mirroring [[exactSubstrSpans]]; ends at `spans`
    * (and exposes `d` for callers needing the universe's texts).
    */
  private def sqlExactSubstrCtes(L: Int): String =
    s"""d AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE regexp_matches(text, '^[\\x00-\\x7f]*$$') AND length(text) >= $L),
       |g AS (SELECT doc_id, u AS pos, substr(text, CAST(u + 1 AS BIGINT), $L) AS gram
       |  FROM d, UNNEST(range(0, n - $L + 1)) AS t(u)),
       |c AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY gram) AS cnt FROM g),
       |p AS (SELECT doc_id, pos FROM c WHERE cnt >= 2),
       |m AS (SELECT doc_id, pos,
       |    CASE WHEN pos > coalesce(max(pos + $L) OVER (PARTITION BY doc_id
       |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |      THEN 1 ELSE 0 END AS brk
       |  FROM p),
       |sp AS (SELECT doc_id, pos,
       |    CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS span_id
       |  FROM m),
       |spans AS (SELECT doc_id, span_id, min(pos) AS span_start,
       |  max(pos) + $L AS span_end, CAST(count(*) AS BIGINT) AS n_positions
       |  FROM sp GROUP BY doc_id, span_id)""".stripMargin

  private val passage: Seq[Q] = Seq(
    // Duplicated-passage detection — the fixed-width approximation of
    // suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better", public): 40-char
    // shingles at stride 20, hash-grouped, keep those appearing in more
    // than one document. Character (not byte) slicing, so semantics
    // match on any Unicode text. At 100 TB the group-by key would be a
    // 64-bit shingle hash rather than the raw string (same plan shape,
    // 5× narrower shuffle); the raw string is kept here so the oracle
    // comparison is direct.
    Q("q168_passage_dedup",
      (s, d) => Tables.documents(s, d)
        .filter(length(col("text")) >= 40)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, cast(floor((length(text) - 40) / 20) as int)), " +
            "i -> substring(text, i * 20 + 1, 40))")).as("shingle"))
        .groupBy("shingle")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .filter(col("n_docs") > 1)
        .orderBy("shingle"),
      Some("""WITH d AS (SELECT doc_id, text,
             |    CAST(floor((length(text) - 40) / 20) AS BIGINT) AS m
             |  FROM documents WHERE length(text) >= 40),
             |sh AS (SELECT doc_id,
             |    substr(text, CAST(u * 20 + 1 AS BIGINT), 40) AS shingle
             |  FROM d, UNNEST(range(0, m + 1)) AS t(u))
             |SELECT shingle, count(DISTINCT doc_id) AS n_docs,
             |  count(*) AS n_occurrences
             |FROM sh GROUP BY shingle HAVING count(DISTINCT doc_id) > 1
             |ORDER BY shingle""".stripMargin)),

    // EXACT duplicated-substring dedup (Lee et al. 2022 ExactSubstr,
    // public) at threshold L=30: a substring of length >= L occurs twice
    // in the corpus iff some length-L gram does, so stride-1 grams at
    // EVERY position with global count >= 2 give exactly the positions
    // the suffix-array scan marks — q168's stride-20 approximation made
    // exact. Duplicated positions then merge into maximal per-doc spans
    // (the ranges ExactSubstr cuts out). Plan shape (round-18, §2.3/
    // §2.4): the duplicate count is a gram-keyed AGGREGATION whose
    // exchange carries the gram alone (map-side partial, no sort), and
    // the small duplicated-gram set joins back (AQE-broadcast) onto a
    // re-derived gram stream — the (doc_id, pos, gram) rows are never
    // shuffled. Raw gram strings stay the aggregation key here so the
    // oracle compares directly; q211 ships the 100 TB variant with
    // xxhash64 keys (8 B vs 30 B key in the counting exchange). All-
    // integer output — no float parity risk.
    Q("q206_exact_substr",
      (s, d) => exactSubstrSpans(exactSubstrUniverse(s, d, 30), 30)
        .orderBy("doc_id", "span_start"),
      Some(s"""WITH ${sqlExactSubstrCtes(30)}
             |SELECT doc_id, span_id, span_start, span_end, n_positions
             |FROM spans ORDER BY doc_id, span_start""".stripMargin)),

    // q206 with the 100 TB shuffle key shipped (the doc there promised
    // it): xxhash64 gram keys in the wide shuffle + a collision-
    // verification join back to the raw grams — identical spans by
    // construction (see exactSubstrSpansHashKey), so the oracle IS
    // q206's, making the hash-key rewrite itself hash-checked.
    Q("q211_exact_substr_hashkey",
      (s, d) => exactSubstrSpansHashKey(exactSubstrUniverse(s, d, 30), 30)
        .orderBy("doc_id", "span_start"),
      Some(s"""WITH ${sqlExactSubstrCtes(30)}
             |SELECT doc_id, span_id, span_start, span_end, n_positions
             |FROM spans ORDER BY doc_id, span_start""".stripMargin)),

    // The APPLY step (completes the Lee et al. pipeline: detect → CUT):
    // every maximal duplicated span is excised from its document and the
    // cleaned corpus is emitted as (lengths, span count, 60-bit hash of
    // the cleaned text) — the hash makes the check exact without
    // shipping full texts through the compare. Cleaning is a per-doc
    // fold over the sorted non-overlapping spans (the oracle rebuilds
    // the same string from inter-span segments with an ordered
    // string_agg — different construction, same string, same hash).
    Q("q208_exact_substr_apply",
      (s, d) => exactSubstrApply(exactSubstrUniverse(s, d, 30), 30)
        .orderBy("doc_id"),
      Some(s"""WITH ${sqlExactSubstrCtes(30)},
             |pe AS (SELECT doc_id, span_start, span_end,
             |    coalesce(lag(span_end) OVER (PARTITION BY doc_id
             |      ORDER BY span_start), 0) AS prev_end
             |  FROM spans),
             |mx AS (SELECT doc_id, max(span_end) AS last_end,
             |    CAST(count(*) AS BIGINT) AS n_spans FROM spans GROUP BY doc_id),
             |segs AS (
             |  SELECT p.doc_id, p.prev_end AS seg_start,
             |    substr(d.text, CAST(p.prev_end + 1 AS BIGINT),
             |      CAST(p.span_start - p.prev_end AS BIGINT)) AS seg
             |  FROM pe p JOIN d USING (doc_id)
             |  UNION ALL
             |  SELECT m2.doc_id, m2.last_end,
             |    substr(d.text, CAST(m2.last_end + 1 AS BIGINT))
             |  FROM mx m2 JOIN d USING (doc_id)
             |  UNION ALL
             |  SELECT d.doc_id, 0, d.text FROM d
             |  WHERE d.doc_id NOT IN (SELECT doc_id FROM spans)),
             |cl AS (SELECT doc_id, string_agg(seg, '' ORDER BY seg_start) AS ct
             |  FROM segs GROUP BY doc_id)
             |SELECT cl.doc_id, CAST(length(d.text) AS BIGINT) AS orig_len,
             |  CAST(length(cl.ct) AS BIGINT) AS kept_len,
             |  coalesce(mx.n_spans, 0) AS n_spans,
             |  ${sqlHash60("cl.ct")} AS h
             |FROM cl JOIN d USING (doc_id) LEFT JOIN mx USING (doc_id)
             |ORDER BY cl.doc_id""".stripMargin)))

  private val entropy: Seq[Q] = Seq(
    // Character-unigram Shannon entropy per document — the cheap "is
    // this text or noise" curation signal (gibberish and boilerplate
    // sit at the distribution's tails). One explode + two aggregations,
    // all on the doc_id key. Each −p·ln p term is computed identically
    // by both engines from integer (count, length) pairs and quantized
    // to nano-units BEFORE the per-doc sum, so summation order is moot.
    // ASCII guard as in q108: char splitting is code-unit-based in the
    // JVM but codepoint-based in DuckDB, identical only for ASCII.
    Q("q173_char_entropy",
      (s, d) => Tables.documents(s, d)
        .filter(col("text").rlike("^[\\x00-\\x7f]*$") && length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).as("n"),
          explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "") // Spark split keeps a trailing ""
        .groupBy("doc_id", "n", "ch").agg(count(lit(1)).as("c"))
        .withColumn("p", col("c").cast("double") / col("n"))
        .withColumn("t_q",
          floor(-(col("p") * log(col("p"))) * 1e9 + 0.5).cast("long"))
        .groupBy("doc_id", "n")
        .agg(count(lit(1)).as("n_distinct"),
          pround(sum(col("t_q")).cast("double") / 1e9, 6).as("entropy"))
        .select(col("doc_id"), col("n").as("n_chars"), col("n_distinct"),
          col("entropy"))
        .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents
              |  WHERE regexp_matches(text, '^[\\x00-\\x7f]*$$') AND length(text) > 0),
              |ch AS (SELECT doc_id, n, unnest(string_split(text, '')) AS ch FROM d),
              |cc AS (SELECT doc_id, n, ch, count(*) AS c FROM ch GROUP BY doc_id, n, ch),
              |t AS (SELECT doc_id, n,
              |    CAST(floor(-((c::DOUBLE / n) * ln(c::DOUBLE / n)) * 1e9 + 0.5)
              |      AS BIGINT) AS t_q
              |  FROM cc)
              |SELECT doc_id, n AS n_chars, CAST(count(*) AS BIGINT) AS n_distinct,
              |  ${sqlRound("CAST(sum(t_q) AS DOUBLE) / 1e9", 6)} AS entropy
              |FROM t GROUP BY doc_id, n ORDER BY doc_id""".stripMargin)))

  private val fusion: Seq[Q] = Seq(
    // Reciprocal-rank fusion (Cormack et al. 2009, public) of the two
    // retrieval modes a hybrid search runs per query: the BM25 lexical
    // leg (q116's operator, fixed term bag) and the dense leg (cosine to
    // a probe embedding; vec_id ≡ doc_id in this corpus). Each leg ranks
    // top-20 on its own 6-decimal-rounded score; RRF k=60 fuses ranks —
    // integer arithmetic, so the fused score is engine-exact. Both legs
    // are TakeOrdered-sized (top-k), never a global sort of the corpus.
    Q("q176_rrf_fusion",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val bm = graft.text.Relevance.bm25TopK(docs, "doc_id", "text",
            terms = Seq("table", "scan", "merge", "spark"), topK = 20)
          .select(col("doc_id"), col("rank").as("rank_bm"))
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ev"))
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("ev").as("pv"))
        val cos = emb.filter(col("vec_id") > 0)
          .crossJoin(broadcast(probe))
          .select(col("vec_id").as("doc_id"),
            pround(org.apache.spark.sql.graft.GraftExpressions.arrayDot(
                col("ev"), col("pv")) /
              (greatest(sqrt(org.apache.spark.sql.graft.GraftExpressions.arrayDot(
                  col("ev"), col("ev"))), lit(1e-8)) *
                greatest(sqrt(org.apache.spark.sql.graft.GraftExpressions.arrayDot(
                  col("pv"), col("pv"))), lit(1e-8))), 6).as("sim"))
          .orderBy(col("sim").desc, col("doc_id").asc).limit(20)
          .withColumn("rank_cos", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("sim").desc, col("doc_id").asc)))
          .select("doc_id", "rank_cos")
        bm.join(cos, Seq("doc_id"), "full_outer")
          .withColumn("rrf",
            pround(coalesce(lit(1.0) / (lit(60) + col("rank_bm")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("rank_cos")), lit(0.0)), 6))
          .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
          .select(col("doc_id"), col("rank_bm"), col("rank_cos"), col("rrf"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
              |tl AS (SELECT doc_id, len(w)::BIGINT AS dl, w FROM t),
              |st AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sdl FROM tl),
              |e AS (SELECT doc_id, dl, unnest(w) AS tok FROM tl),
              |tf AS (SELECT doc_id, dl, tok, CAST(count(*) AS BIGINT) AS tf
              |  FROM e WHERE tok IN ('table', 'scan', 'merge', 'spark')
              |  GROUP BY 1, 2, 3),
              |dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
              |  FROM tf GROUP BY 1),
              |sc AS (SELECT tf.doc_id, tf.tok,
              |    ln(1.0 + (st.n - dft.df + 0.5) / (dft.df + 0.5)) *
              |      (tf.tf * (1.2 + 1.0)) /
              |      (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / (CAST(st.sdl AS DOUBLE) / st.n))) AS part
              |  FROM tf JOIN dft USING (tok) CROSS JOIN st),
              |bm AS (SELECT doc_id,
              |    row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank_bm
              |  FROM (SELECT doc_id,
              |      ${sqlRound("list_sum(list(part ORDER BY tok))", 6)} AS score
              |    FROM sc GROUP BY 1)
              |  QUALIFY rank_bm <= 20),
              |emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
              |pv AS (SELECT ev AS pv FROM emb WHERE vec_id = 0),
              |cs AS (SELECT vec_id AS doc_id,
              |    ${sqlRound(VectorTextQueries.sqlCosine("ev", "pv"), 6)} AS sim
              |  FROM emb, pv WHERE vec_id > 0),
              |cosr AS (SELECT doc_id,
              |    row_number() OVER (ORDER BY sim DESC, doc_id ASC) AS rank_cos
              |  FROM cs QUALIFY rank_cos <= 20),
              |fused AS (SELECT coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
              |    bm.rank_bm, cosr.rank_cos,
              |    ${sqlRound(
                   "coalesce(1.0 / (60 + bm.rank_bm), 0.0) + coalesce(1.0 / (60 + cosr.rank_cos), 0.0)",
                   6)} AS rrf
              |  FROM bm FULL OUTER JOIN cosr ON bm.doc_id = cosr.doc_id)
              |SELECT doc_id, rank_bm, rank_cos, rrf FROM fused
              |ORDER BY rrf DESC, doc_id ASC LIMIT 10""".stripMargin)))

  private val retrievalEval: Seq[Q] = Seq(
    // Retrieval evaluation harness: recall@10, MRR and nDCG@10 of one
    // ranker against another's top-10 as ground truth (here: L2 ranking
    // scored against cosine truth, probes 0–2 — the same machinery
    // scores an ANN tier against the exact scan in production). Ranks
    // are integers and every DCG term is quantized before the fold, so
    // the metric values are engine-exact.
    Q("q184_retrieval_metrics",
      (s, d) => {
        import org.apache.spark.sql.graft.GraftExpressions.{arrayDot, arraySqDiff}
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ev"))
        val probes = emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("probe_id"), col("ev").as("pv"))
        val cand = emb.filter(col("vec_id") >= 3).crossJoin(broadcast(probes))
        def top10(scored: org.apache.spark.sql.DataFrame, asc: Boolean,
            rankCol: String) = {
          val ord = if (asc) Seq(col("score").asc, col("vec_id").asc)
            else Seq(col("score").desc, col("vec_id").asc)
          val pw = org.apache.spark.sql.expressions.Window
            .partitionBy("probe_id").orderBy(ord: _*)
          scored.withColumn(rankCol, row_number().over(pw))
            .filter(col(rankCol) <= 10)
            .select(col("probe_id"), col("vec_id"), col(rankCol))
        }
        val truth = top10(cand.select(col("probe_id"), col("vec_id"),
          pround(arrayDot(col("ev"), col("pv")) /
            (greatest(sqrt(arrayDot(col("ev"), col("ev"))), lit(1e-8)) *
              greatest(sqrt(arrayDot(col("pv"), col("pv"))), lit(1e-8))), 6)
            .as("score")), asc = false, "rank_t")
        val sys = top10(cand.select(col("probe_id"), col("vec_id"),
          pround(sqrt(arraySqDiff(col("ev"), col("pv"))), 6).as("score")),
          asc = true, "rank_s")
        val hits = sys.join(truth, Seq("probe_id", "vec_id"))
          .withColumn("dcg_q",
            floor(lit(1e9) / log(col("rank_s") + 1) + 0.5).cast("long"))
        val idcgQ = (1 to 10).map(i =>
          math.floor(1e9 / math.log(i + 1.0) + 0.5).toLong).sum
        probes.select("probe_id").join(
            hits.groupBy("probe_id")
              .agg(count(lit(1)).as("n_hits"),
                min(col("rank_s")).as("first_hit"),
                sum(col("dcg_q")).as("dcgq")),
            Seq("probe_id"), "left")
          .select(col("probe_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            pround(coalesce(col("n_hits"), lit(0L)).cast("double") / 10, 6)
              .as("recall_at_10"),
            pround(coalesce(lit(1.0) / col("first_hit"), lit(0.0)), 6).as("mrr"),
            pround(coalesce(col("dcgq"), lit(0L)).cast("double") / idcgQ, 6)
              .as("ndcg_at_10"))
          .orderBy("probe_id")
      },
      Some {
        val cos = VectorTextQueries.sqlCosine("c.ev", "p.pv")
        s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
           |p AS (SELECT vec_id AS probe_id, ev AS pv FROM emb WHERE vec_id < 3),
           |c AS (SELECT vec_id, ev FROM emb WHERE vec_id >= 3),
           |truth AS (SELECT probe_id, vec_id FROM (
           |    SELECT p.probe_id, c.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${sqlRound(cos, 6)} DESC, c.vec_id ASC) AS rank_t
           |    FROM c, p) WHERE rank_t <= 10),
           |sys AS (SELECT probe_id, vec_id, rank_s FROM (
           |    SELECT p.probe_id, c.vec_id,
           |      row_number() OVER (PARTITION BY p.probe_id
           |        ORDER BY ${sqlRound("list_distance(c.ev, p.pv)", 6)} ASC,
           |          c.vec_id ASC) AS rank_s
           |    FROM c, p) WHERE rank_s <= 10),
           |hits AS (SELECT s.probe_id, s.rank_s,
           |    CAST(floor(1e9 / ln(s.rank_s + 1) + 0.5) AS BIGINT) AS dcg_q
           |  FROM sys s JOIN truth t ON s.probe_id = t.probe_id AND s.vec_id = t.vec_id),
           |idcg AS (SELECT CAST(sum(CAST(floor(1e9 / ln(i + 1 + 1) + 0.5) AS BIGINT))
           |    AS BIGINT) AS idcg_q
           |  FROM (SELECT unnest(range(10)) AS i)),
           |ag AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_hits,
           |    min(rank_s) AS first_hit, CAST(sum(dcg_q) AS BIGINT) AS dcgq
           |  FROM hits GROUP BY probe_id)
           |SELECT p.probe_id, coalesce(ag.n_hits, 0) AS n_hits,
           |  ${sqlRound("coalesce(CAST(ag.n_hits AS DOUBLE), 0.0) / 10", 6)} AS recall_at_10,
           |  ${sqlRound("coalesce(1.0 / ag.first_hit, 0.0)", 6)} AS mrr,
           |  ${sqlRound(
               "coalesce(CAST(ag.dcgq AS DOUBLE), 0.0) / (SELECT idcg_q FROM idcg)",
               6)} AS ndcg_at_10
           |FROM p LEFT JOIN ag USING (probe_id)
           |ORDER BY p.probe_id""".stripMargin
      }),

    // Per-dimension embedding statistics — the normalization-stats pass
    // a whitening/standardization step reads. One posexplode + one
    // aggregation keyed by dimension; mean and variance from exact
    // integer co-moments of micro-unit quanta.
    Q("q185_embed_dim_stats",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
        .withColumn("v_q", floor(col("v") * 1e6 + 0.5).cast("long"))
        .groupBy("pos")
        .agg(count(lit(1)).as("n"),
          pround(sum(col("v_q")).cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_v"),
          pround((count(lit(1)).cast("double") *
            sum(col("v_q") * col("v_q")).cast("double") -
            sum(col("v_q")).cast("double") * sum(col("v_q")).cast("double")) /
            (count(lit(1)).cast("double") * count(lit(1)).cast("double")) / 1e12, 6)
            .as("var_v"))
        .select(col("pos").cast("long").as("pos"), col("n"), col("mean_v"),
          col("var_v"))
        .orderBy("pos"),
      Some(s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
              |dims AS (SELECT CAST(len(ev) AS BIGINT) AS dim FROM emb LIMIT 1),
              |g AS (SELECT unnest(range((SELECT dim FROM dims))) AS pos),
              |x AS (SELECT g.pos, CAST(floor(e.ev[g.pos + 1] * 1e6 + 0.5) AS BIGINT) AS v_q
              |  FROM emb e, g)
              |SELECT pos, CAST(count(*) AS BIGINT) AS n,
              |  ${sqlRound("CAST(sum(v_q) AS DOUBLE) / count(*) / 1e6", 6)} AS mean_v,
              |  ${sqlRound(
                  """(CAST(count(*) AS DOUBLE) * CAST(sum(v_q * v_q) AS DOUBLE) -
                     CAST(sum(v_q) AS DOUBLE) * CAST(sum(v_q) AS DOUBLE)) /
                    (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) / 1e12""",
                  6)} AS var_v
              |FROM x GROUP BY pos ORDER BY pos""".stripMargin)))

  private val lm2: Seq[Q] = Seq(
    // Bigram LM with add-one smoothing, trained on sources ≠ src0 and
    // scored on the held-out src0 slice — the conditional-probability
    // upgrade of q123's unigram filter: P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁)+V).
    // Probabilities are ratios of exact integers, each −ln p term is
    // quantized to nano-units before the per-doc fold, and the bigram
    // join keys are "w1 w2" strings so engine and oracle share one
    // representation. Shape: two train aggregates (broadcastable), one
    // explode + left join on the eval side.
    Q("q187_bigram_lm",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        def bigrams(df: org.apache.spark.sql.DataFrame) = df.select(
          col("doc_id"),
          explode(expr("transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
            .as("bg"))
        val train = toks.filter(col("source") =!= "src0")
        val c2 = bigrams(train).groupBy("bg").agg(count(lit(1)).as("c12"))
        val c1 = train.select(explode(col("toks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val vocab = train.select(explode(col("toks")).as("w"))
          .agg(countDistinct(col("w")).as("v"))
        bigrams(toks.filter(col("source") === "src0"))
          .join(broadcast(c2), Seq("bg"), "left")
          .withColumn("w1", split(col("bg"), " ").getItem(0))
          .join(broadcast(c1.withColumnRenamed("w", "w1")), Seq("w1"), "left")
          .crossJoin(broadcast(vocab))
          .withColumn("p",
            (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
              (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          .withColumn("t_q", floor(-log(col("p")) * 1e9 + 0.5).cast("long"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            pround(sum(col("t_q")).cast("double") / count(lit(1)) / 1e9, 6)
              .as("xent"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, $sqlToks AS toks FROM documents),
              |tt AS (SELECT doc_id, source, toks FROM t WHERE len(toks) >= 2),
              |trainbg AS (SELECT unnest([toks[i] || ' ' || toks[i + 1]
              |      FOR i IN range(1, len(toks))]) AS bg
              |  FROM tt WHERE source <> 'src0'),
              |c2 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM trainbg GROUP BY bg),
              |trainw AS (SELECT unnest(toks) AS w FROM tt WHERE source <> 'src0'),
              |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM trainw GROUP BY w),
              |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM trainw),
              |ev AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i + 1]
              |      FOR i IN range(1, len(toks))]) AS bg
              |  FROM tt WHERE source = 'src0'),
              |scored AS (SELECT e.doc_id,
              |    CAST(floor(-ln(CAST(coalesce(c2.c12, 0) + 1 AS DOUBLE) /
              |      CAST(coalesce(c1.c1, 0) + vv.v AS DOUBLE)) * 1e9 + 0.5)
              |      AS BIGINT) AS t_q
              |  FROM ev e
              |  LEFT JOIN c2 USING (bg)
              |  LEFT JOIN c1 ON c1.w = string_split(e.bg, ' ')[1]
              |  CROSS JOIN vv)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
              |  ${sqlRound("CAST(sum(t_q) AS DOUBLE) / count(*) / 1e9", 6)} AS xent
              |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Zipf-law fit: OLS slope of ln(freq) on ln(rank) over the top-100
    // corpus tokens — the one-number corpus-health diagnostic (natural
    // text ≈ −1). Both logs are quantized to micro-units and the four
    // regression sums are exact BIGINTs, so the slope is engine-exact.
    Q("q188_zipf",
      (s, d) => {
        val freq = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
          .orderBy(col("f").desc, col("w").asc).limit(100)
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("f").desc, col("w").asc)))
        freq
          .withColumn("x_q", floor(log(col("rank").cast("double")) * 1e6 + 0.5).cast("long"))
          .withColumn("y_q", floor(log(col("f").cast("double")) * 1e6 + 0.5).cast("long"))
          .agg(count(lit(1)).as("n_tokens"),
            pround(
              (count(lit(1)).cast("double") * sum(col("x_q") * col("y_q")).cast("double") -
                sum(col("x_q")).cast("double") * sum(col("y_q")).cast("double")) /
                (count(lit(1)).cast("double") * sum(col("x_q") * col("x_q")).cast("double") -
                  sum(col("x_q")).cast("double") * sum(col("x_q")).cast("double")), 6)
              .as("zipf_slope"))
      },
      Some(s"""WITH w AS (SELECT unnest($sqlToks) AS w FROM documents),
              |f AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w GROUP BY w
              |  ORDER BY f DESC, w ASC LIMIT 100),
              |r AS (SELECT f, row_number() OVER (ORDER BY f DESC, w ASC) AS rank FROM f),
              |q AS (SELECT
              |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x_q,
              |    CAST(floor(ln(CAST(f AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y_q
              |  FROM r)
              |SELECT CAST(count(*) AS BIGINT) AS n_tokens,
              |  ${sqlRound(
                  """(CAST(count(*) AS DOUBLE) * CAST(sum(x_q * y_q) AS DOUBLE) -
                     CAST(sum(x_q) AS DOUBLE) * CAST(sum(y_q) AS DOUBLE)) /
                    (CAST(count(*) AS DOUBLE) * CAST(sum(x_q * x_q) AS DOUBLE) -
                     CAST(sum(x_q) AS DOUBLE) * CAST(sum(x_q) AS DOUBLE))""",
                  6)} AS zipf_slope
              |FROM q""".stripMargin)))

  private val whiten: Seq[Q] = Seq(
    // Per-dimension standardization APPLIED and AUDITED in one plan —
    // the feature-store transform q185's stats exist for: fit
    // (mean/var from exact quanta, rounded before use), transform
    // (z = (v−μ)/σ, identical doubles on both engines), audit (re-fold
    // the standardized values through exact quanta: mean≈0, var≈1).
    // Stats are a 64-row broadcast; the transform is one projection.
    Q("q203_embed_whiten",
      (s, d) => {
        val x = Tables.embeddings(s, d)
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "v")))
          .withColumn("v_q", floor(col("v") * 1e6 + 0.5).cast("long"))
        val stats = x.groupBy("pos")
          .agg(count(lit(1)).as("n"),
            pround(sum(col("v_q")).cast("double") / count(lit(1)) / 1e6, 6)
              .as("mu"),
            pround((count(lit(1)).cast("double") *
              sum(col("v_q") * col("v_q")).cast("double") -
              sum(col("v_q")).cast("double") * sum(col("v_q")).cast("double")) /
              (count(lit(1)).cast("double") * count(lit(1)).cast("double")) / 1e12, 6)
              .as("varv"))
          .filter(col("varv") > 0)
        x.join(broadcast(stats), "pos")
          .withColumn("z", (col("v") - col("mu")) / sqrt(col("varv")))
          .withColumn("z_q", floor(col("z") * 1e6 + 0.5).cast("long"))
          .groupBy("pos")
          .agg(count(lit(1)).as("n"),
            pround(sum(col("z_q")).cast("double") / count(lit(1)) / 1e6, 6)
              .as("mean_z"),
            pround((count(lit(1)).cast("double") *
              sum(col("z_q") * col("z_q")).cast("double") -
              sum(col("z_q")).cast("double") * sum(col("z_q")).cast("double")) /
              (count(lit(1)).cast("double") * count(lit(1)).cast("double")) / 1e12, 6)
              .as("var_z"))
          .select(col("pos").cast("long").as("pos"), col("n"), col("mean_z"),
            col("var_z"))
          .orderBy("pos")
      },
      Some(s"""WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
              |dims AS (SELECT CAST(len(ev) AS BIGINT) AS dim FROM emb LIMIT 1),
              |g AS (SELECT unnest(range((SELECT dim FROM dims))) AS pos),
              |x AS (SELECT e.vec_id, g.pos, e.ev[g.pos + 1] AS v,
              |    CAST(floor(e.ev[g.pos + 1] * 1e6 + 0.5) AS BIGINT) AS v_q
              |  FROM emb e, g),
              |st AS (SELECT pos, CAST(count(*) AS BIGINT) AS n,
              |    ${sqlRound("CAST(sum(v_q) AS DOUBLE) / count(*) / 1e6", 6)} AS mu,
              |    ${sqlRound(
                   """(CAST(count(*) AS DOUBLE) * CAST(sum(v_q * v_q) AS DOUBLE) -
                      CAST(sum(v_q) AS DOUBLE) * CAST(sum(v_q) AS DOUBLE)) /
                     (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) / 1e12""",
                   6)} AS varv
              |  FROM x GROUP BY pos),
              |z AS (SELECT x.pos,
              |    CAST(floor(((x.v - st.mu) / sqrt(st.varv)) * 1e6 + 0.5) AS BIGINT) AS z_q
              |  FROM x JOIN st USING (pos) WHERE st.varv > 0)
              |SELECT pos, CAST(count(*) AS BIGINT) AS n,
              |  ${sqlRound("CAST(sum(z_q) AS DOUBLE) / count(*) / 1e6", 6)} AS mean_z,
              |  ${sqlRound(
                  """(CAST(count(*) AS DOUBLE) * CAST(sum(z_q * z_q) AS DOUBLE) -
                     CAST(sum(z_q) AS DOUBLE) * CAST(sum(z_q) AS DOUBLE)) /
                    (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)) / 1e12""",
                  6)} AS var_z
              |FROM z GROUP BY pos ORDER BY pos""".stripMargin)))

  private val curation: Seq[Q] = Seq(
    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    // k-means-cluster the embedding space, then mark near-duplicates
    // WITHIN each cluster by pairwise cosine, keeping the member least
    // similar to its centroid (the paper's diversity-preserving keep
    // rule). Deterministic fit: seed centroids are per-label means
    // rounded to 6 dp (the q120 trick — bit-identical on both engines),
    // assignment is argmin of rounded squared-L2 with ties to the lower
    // label. 100 TB shape: centroids are a k-row broadcast; the pair
    // stage shuffles on the CLUSTER id only — per-cluster work is
    // quadratic in cluster size, which is exactly the knob k controls
    // (k ∝ N / target-cluster-size, the paper's own scaling argument);
    // no stage sees the corpus cross product and the driver sees no rows.
    // Output: every vector's cluster, rounded centroid distance, and
    // dup flag — the full APPLY verdict, hash-checked.
    Q("q212_semdedup",
      (s, d) => {
        import org.apache.spark.sql.graft.GraftExpressions.{arrayDot, arraySqDiff}
        val v = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("emb"))
        val cents = v
          .select(col("label"), posexplode(col("emb")))
          .withColumn("pos", col("pos") + 1)
          .groupBy("label", "pos")
          .agg(pround(avg("col"), 6).as("cv"))
          .groupBy("label")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
            x => x.getField("cv")).as("c"))
          .select(col("label").as("cl"), col("c"))
        // Argmin as a MIN(struct) aggregation, not a row_number window:
        // the N×k assignment rows collapse map-side (partial agg) to one
        // row per vector per partition, so nothing ever sorts or
        // shuffles the crossJoin fan-out — with k ∝ N (SemDeDup's
        // scaling regime) a window sort here curves quadratic. Struct
        // comparison is lexicographic, so (d2, cl) ordering IS the
        // rounded-distance argmin with ties to the lower label; emb
        // rides along un-compared (cl is unique per centroid).
        // The assignment pass runs ONCE (localCheckpoint) — three
        // consumers (both pair sides + the final verdict join) read the
        // materialized N rows, not three replays of the N×k crossJoin.
        // Per-vector norms are precomputed here: sqrt(dot(e,e)) is the
        // same double wherever it's evaluated, so the pair stage's
        // cosine — dot/(na·nb) — is bit-identical to the oracle's
        // inline form while paying ONE dot per pair instead of three.
        val assigned = Cached.checkpoint(v.crossJoin(broadcast(cents))
          .withColumn("d2", pround(arraySqDiff(col("emb"), col("c")), 6))
          .groupBy("vec_id")
          .agg(min(struct(col("d2"), col("cl"), col("emb"))).as("m"))
          .select(col("vec_id"), col("m.cl").as("cluster"),
            col("m.d2").as("d2"), col("m.emb").as("emb"))
          .withColumn("nrm", sqrt(arrayDot(col("emb"), col("emb")))))
        val a = assigned.select(col("cluster"), col("vec_id").as("ida"),
          col("d2").as("d2a"), col("emb").as("ea"), col("nrm").as("na"))
        val b = assigned.select(col("cluster"), col("vec_id").as("idb"),
          col("d2").as("d2b"), col("emb").as("eb"), col("nrm").as("nb"))
        // A member is a dup when a same-cluster neighbor above the cosine
        // bar sits FARTHER from the centroid (keep-the-outlier), ties to
        // the lower id. τ=0.35 sits in the corpus's near-dup tail.
        val dups = a.join(b, Seq("cluster"))
          .filter(col("ida") =!= col("idb"))
          .withColumn("cosr", pround(
            arrayDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
          .filter(col("cosr") >= 0.35 &&
            (col("d2a") > col("d2b") ||
              (col("d2a") === col("d2b") && col("ida") < col("idb"))))
          .select(col("idb").as("vec_id")).distinct()
          .withColumn("is_dup", lit(1L))
        assigned
          .join(dups, Seq("vec_id"), "left")
          .select(col("cluster"), col("vec_id"), col("d2"),
            coalesce(col("is_dup"), lit(0L)).as("is_dup"))
          .orderBy("cluster", "vec_id")
      },
      Some(s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb
              |  FROM embeddings),
              |ps AS (SELECT unnest(generate_series(1, 64)) AS pos),
              |cp AS (SELECT label, pos, ${sqlRound("avg(emb[pos])", 6)} AS cv
              |  FROM v, ps GROUP BY 1, 2),
              |cent AS (SELECT label AS cl, list(cv ORDER BY pos) AS c
              |  FROM cp GROUP BY 1),
              |dd AS (SELECT v.vec_id, cent.cl,
              |    ${sqlRound(
                 """list_sum(list_transform(range(1, 65),
                      i -> (v.emb[i]-cent.c[i])*(v.emb[i]-cent.c[i])))""", 6)} AS d2
              |  FROM v, cent),
              |asg AS (SELECT vec_id, cl AS cluster, d2 FROM
              |  (SELECT *, row_number() OVER (PARTITION BY vec_id
              |     ORDER BY d2 ASC, cl ASC) AS rn FROM dd) WHERE rn = 1),
              |n AS (SELECT a.vec_id, a.cluster, a.d2, v.emb
              |  FROM asg a JOIN v USING (vec_id)),
              |dups AS (SELECT DISTINCT y.vec_id FROM n x JOIN n y
              |  ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
              |  WHERE ${sqlRound(
                 """list_sum(list_transform(range(1, 65), i -> x.emb[i]*y.emb[i])) /
                    (sqrt(list_sum(list_transform(range(1, 65), i -> x.emb[i]*x.emb[i]))) *
                     sqrt(list_sum(list_transform(range(1, 65), i -> y.emb[i]*y.emb[i]))))""",
                 6)} >= 0.35
              |    AND (x.d2 > y.d2 OR (x.d2 = y.d2 AND x.vec_id < y.vec_id)))
              |SELECT a.cluster, a.vec_id, a.d2,
              |  CAST(CASE WHEN dups.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
              |    AS is_dup
              |FROM asg a LEFT JOIN dups USING (vec_id)
              |ORDER BY cluster, vec_id""".stripMargin),
      // The registered clustering is the corpus's 10 labels — FIXED
      // cardinality, so per-cluster all-pairs grows quadratically in N
      // (SemDeDup's own regime assumes k ∝ N). q214 is the scale path:
      // LSH-bucket clusters with P(N) derived at run time keep bucket
      // sizes constant and every stage linear.
      scaleLimited = Some("q214_semdedup_lsh")),

    // DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via
    // importance resampling — score every raw document by how much its
    // hashed-unigram profile looks like the TARGET slice (here lang='en')
    // versus the raw corpus. Features are md5-hash60(word) mod 1024
    // buckets; bucket log-ratios λ_b = ln p̂_b − ln q̂_b (α=0.5 additive
    // smoothing, doubled to clear the fraction) are quantized to exact
    // nano-units so the per-doc weight Σ n_b·λ_b is an exact BIGINT sum
    // on both engines. 100 TB shape: the two distribution fits are
    // 1024-row hash aggregations, the λ table is a broadcast, and doc
    // scoring is one (doc,bucket) partial-agg + one per-doc agg — two
    // linear shuffles, no driver state.
    Q("q213_dsir_weights",
      (s, d) => {
        // ONE tokenize+hash pass: the (doc, lang, bucket) partial counts
        // are materialized once (localCheckpoint — no CacheManager entry
        // to leak) and every downstream aggregate — both distribution
        // fits, the totals, and the per-doc score — reads the partials,
        // not the corpus. The md5-per-token cost is paid exactly once.
        val nb = Cached.checkpoint(Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(TextOps.tokens(col("text"))).as("w"))
          .withColumn("b", TextOps.md5Hash60(lower(col("w"))) % 1024)
          .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("nb")))
        val rawCt = nb.groupBy("b").agg(sum(col("nb")).as("cq"))
        val tgtCt = nb.filter(col("lang") === "en")
          .groupBy("b").agg(sum(col("nb")).as("cp"))
        val totals = nb.agg(sum(col("nb")).as("tq"),
          sum(when(col("lang") === "en", col("nb")).otherwise(0L)).as("tp"))
        val lam = rawCt.join(tgtCt, Seq("b"), "left")
          .crossJoin(broadcast(totals))
          .select(col("b"),
            (qln(lit(2) * coalesce(col("cp"), lit(0L)) + 1) -
              qln(lit(2) * col("tp") + 1024) -
              qln(lit(2) * col("cq") + 1) +
              qln(lit(2) * col("tq") + 1024)).as("lam_q"))
        nb.join(broadcast(lam), "b")
          .groupBy("doc_id")
          .agg(sum(col("nb")).as("n_tokens"),
            pround(sum(col("nb") * col("lam_q")).cast("double") / 1e9, 6)
              .as("weight"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, unnest($sqlToks) AS w FROM documents),
              |tb AS (SELECT doc_id, lang, ${sqlHash60("lower(w)")} % 1024 AS b FROM t),
              |cq AS (SELECT b, CAST(count(*) AS BIGINT) AS cq FROM tb GROUP BY 1),
              |cpt AS (SELECT b, CAST(count(*) AS BIGINT) AS cp FROM tb
              |  WHERE lang = 'en' GROUP BY 1),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS tq,
              |    CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS tp FROM tb),
              |lam AS (SELECT cq.b,
              |    CAST(floor(ln(2 * coalesce(cpt.cp, 0) + 1) * 1e9 + 0.5) AS BIGINT)
              |    - CAST(floor(ln(2 * tot.tp + 1024) * 1e9 + 0.5) AS BIGINT)
              |    - CAST(floor(ln(2 * cq.cq + 1) * 1e9 + 0.5) AS BIGINT)
              |    + CAST(floor(ln(2 * tot.tq + 1024) * 1e9 + 0.5) AS BIGINT) AS lam_q
              |  FROM cq LEFT JOIN cpt USING (b) CROSS JOIN tot),
              |nb AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS nb
              |  FROM tb GROUP BY 1, 2)
              |SELECT nb.doc_id, CAST(sum(nb.nb) AS BIGINT) AS n_tokens,
              |  ${sqlRound("CAST(sum(nb.nb * lam.lam_q) AS DOUBLE) / 1e9", 6)} AS weight
              |FROM nb JOIN lam USING (b) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // q212's SCALE PATH: SemDeDup with LSH-bucket clusters instead of the
    // corpus's fixed label clustering. Clusters are hyperplane-signature
    // buckets (P = semPlanes(N) derived from the corpus at run time, so
    // expected bucket size stays ~32 as N grows); centroids are bucket
    // means (one linear groupBy — no k×N crossJoin anywhere); the
    // keep-the-outlier verdict inside each bucket is IDENTICAL to q212's.
    // 100 TB shape: signature N×P flops, centroid join is a plain
    // equi-join on the bucket id (AQE broadcasts while 2^P is small,
    // shuffles when it isn't), pair stage Σ|bucket|² ≈ 32·N — every stage
    // linear in N. The dynamic oracle embeds the derived-P planes, so the
    // hash check covers the P(N) wiring itself.
    Q("q214_semdedup_lsh",
      (s, d) => {
        import org.apache.spark.sql.graft.GraftExpressions.{arrayDot, arraySqDiff}
        val v = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        // The screen's only planning action: one column-pruned count to
        // derive P(N) (parameter learning, like q207's cohort planes).
        val n = v.count()
        val p = semPlanes(n)
        SemPlaneCounts.put(d, p)
        val mat = graft.ohlcv.Encode.randomProjectionMatrix(64, p, SemDedupSeed)
        val sig = v.withColumn("cluster",
          graft.sim.Lsh.hyperplaneSignature(col("emb"), mat))
        val cents = sig
          .select(col("cluster"), posexplode(col("emb")))
          .withColumn("pos", col("pos") + 1)
          .groupBy("cluster", "pos")
          .agg(pround(avg("col"), 6).as("cv"))
          .groupBy("cluster")
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
            x => x.getField("cv")).as("c"))
        // One materialized assignment (localCheckpoint) feeds both pair
        // sides and the verdict join — same discipline as q212.
        val assigned = Cached.checkpoint(sig.join(cents, "cluster")
          .withColumn("d2", pround(arraySqDiff(col("emb"), col("c")), 6))
          .withColumn("nrm", sqrt(arrayDot(col("emb"), col("emb"))))
          .select(col("cluster"), col("vec_id"), col("d2"), col("emb"),
            col("nrm")))
        val a = assigned.select(col("cluster"), col("vec_id").as("ida"),
          col("d2").as("d2a"), col("emb").as("ea"), col("nrm").as("na"))
        val b = assigned.select(col("cluster"), col("vec_id").as("idb"),
          col("d2").as("d2b"), col("emb").as("eb"), col("nrm").as("nb"))
        val dups = a.join(b, Seq("cluster"))
          .filter(col("ida") =!= col("idb"))
          .withColumn("cosr", pround(
            arrayDot(col("ea"), col("eb")) / (col("na") * col("nb")), 6))
          .filter(col("cosr") >= 0.35 &&
            (col("d2a") > col("d2b") ||
              (col("d2a") === col("d2b") && col("ida") < col("idb"))))
          .select(col("idb").as("vec_id")).distinct()
          .withColumn("is_dup", lit(1L))
        assigned
          .join(dups, Seq("vec_id"), "left")
          .select(col("cluster"), col("vec_id"), col("d2"),
            coalesce(col("is_dup"), lit(0L)).as("is_dup"))
          .orderBy("cluster", "vec_id")
      },
      oracle = None,
      oracleDyn = Some(() => SemPlaneCounts.oracle("q214")(semdedupLshSql))),

    // Model-based quality filtering (the fastText-classifier stage of
    // CCNet/LLaMA-style corpus pipelines, simplified to its distributable
    // core): a naive-Bayes token model trained ON the corpus itself
    // (source = 'src0' as the high-quality class — the same proxy split
    // q209/q110 use for the benchmark side) scores every document as
    // Σ_tokens count·log-odds. All floats come from the q213 trick —
    // per-token log-odds are nano-quantized BIGINTs computed from
    // integer counts, so the per-doc sum is order-free and the only
    // double appears at the final rounded division. 100 TB shape: one
    // tokenize pass materialized once, two vocab-sized hash aggregations,
    // a 1-row totals broadcast, and a vocab equi-join (AQE broadcasts
    // while the vocab is small; a web-scale vocab shuffles — still one
    // linear join); no stage is super-linear and the driver sees no rows.
    Q("q215_nb_quality",
      (s, d) =>
        nbDocScores(s, d)
          .select(col("doc_id"), col("n_tokens"),
            pround(col("score_q").cast("double") / 1e9, 6).as("nb_score"))
          .orderBy("doc_id"),
      Some(s"""WITH $nbScoreSqlCtes
              |SELECT doc_id, n_tokens,
              |  ${sqlRound("CAST(score_q AS DOUBLE) / 1e9", 6)} AS nb_score
              |FROM ds ORDER BY doc_id""".stripMargin)),

    // PMI collocations: the classic corpus-linguistics screen for
    // multi-word expressions — pointwise mutual information of adjacent
    // token pairs, PMI = ln(p(w1w2) / (p(w1)p(w2))) with a count floor so
    // rare accidents don't dominate. Every ln argument is an exact
    // integer count, each term nano-quantized (q213 trick), so the score
    // and the ORDER BY (on the exact quantized sum, keys as tie-break)
    // are engine-independent. Shape: one bigram aggregate + one unigram
    // aggregate (both corpus-linear, map-side combined), marginals join
    // back via broadcast (vocab-sized), totals as a 1-row broadcast —
    // the same 100 TB posture as q187/q215.
    Q("q216_pmi_collocations",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val bg = toks.select(explode(expr(
            "transform(sequence(1, size(toks) - 1), " +
              "i -> named_struct('w1', element_at(toks, i), " +
              "'w2', element_at(toks, i + 1)))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= 5)
        val uni = toks.select(explode(col("toks")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c1"))
        val totals = bg.agg(count(lit(1)).as("nb"))
          .crossJoin(uni.agg(sum(col("c1")).as("nt")))
        c2.join(broadcast(uni.select(col("w").as("w1"), col("c1").as("ca"))), "w1")
          .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("cb"))), "w2")
          .crossJoin(broadcast(totals))
          .withColumn("pmi_q",
            qln(col("c12")) - qln(col("nb")) - qln(col("ca")) -
              qln(col("cb")) + lit(2L) * qln(col("nt")))
          .orderBy(col("pmi_q").desc, col("w1"), col("w2"))
          .limit(25)
          .select(col("w1"), col("w2"), col("c12"),
            pround(col("pmi_q").cast("double") / 1e9, 6).as("pmi"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
              |tt AS (SELECT toks FROM t WHERE len(toks) >= 2),
              |bg AS (SELECT unnest([{'w1': toks[i], 'w2': toks[i + 1]}
              |      FOR i IN range(1, len(toks))], recursive := true) FROM tt),
              |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
              |  FROM bg GROUP BY 1, 2 HAVING count(*) >= 5),
              |uni AS (SELECT unnest(toks) AS w FROM tt),
              |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY 1),
              |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM bg) AS nb,
              |    (SELECT CAST(count(*) AS BIGINT) FROM uni) AS nt),
              |sc AS (SELECT c2.w1, c2.w2, c2.c12,
              |    CAST(floor(ln(c2.c12) * 1e9 + 0.5) AS BIGINT)
              |    - CAST(floor(ln(tot.nb) * 1e9 + 0.5) AS BIGINT)
              |    - CAST(floor(ln(ca.c1) * 1e9 + 0.5) AS BIGINT)
              |    - CAST(floor(ln(cb.c1) * 1e9 + 0.5) AS BIGINT)
              |    + 2 * CAST(floor(ln(tot.nt) * 1e9 + 0.5) AS BIGINT) AS pmi_q
              |  FROM c2
              |  JOIN c1 ca ON ca.w = c2.w1
              |  JOIN c1 cb ON cb.w = c2.w2
              |  CROSS JOIN tot)
              |SELECT w1, w2, c12, ${sqlRound("CAST(pmi_q AS DOUBLE) / 1e9", 6)} AS pmi
              |FROM sc ORDER BY pmi_q DESC, w1, w2 LIMIT 25""".stripMargin)),

    // Token-budget sampling: "take ~B tokens per domain" — the budgeted
    // corpus-mixing step (distinct from q113's rate sampling and q129's
    // mixture weights). Docs take a deterministic hash priority, and
    // each source keeps its priority-ordered prefix while the running
    // token sum stays within budget — so the selection is reproducible
    // on any cluster layout and never splits a document. All integer:
    // token counts are exact BIGINTs, the running sum is one window over
    // the (source, priority) order. 100 TB shape: one shuffle on source
    // (the window's partition key), no driver state; a skewed giant
    // source bounds its own cost because the budget cuts the prefix.
    Q("q217_token_budget_sample",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 500L
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
            (TextOps.md5Hash60(concat(lit("budget:"),
              col("doc_id").cast("string")))).as("pri"))
        val wsrc = Window.partitionBy("source").orderBy(col("pri"), col("doc_id"))
        docs
          .withColumn("cum", sum(col("n_tokens"))
            .over(wsrc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum") <= budget)
          .select(col("source"), col("doc_id"), col("n_tokens"), col("cum"))
          // doc_id breaks (source, cum) ties: a zero-token document (empty
          // text) leaves cum unchanged, so without it the output order —
          // and the cross-engine hash — would be ambiguous.
          .orderBy("source", "cum", "doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, source,
              |    CAST(len($sqlToks) AS BIGINT) AS n_tokens,
              |    ${sqlHash60("'budget:' || CAST(doc_id AS VARCHAR)")} AS pri
              |  FROM documents),
              |c AS (SELECT source, doc_id, n_tokens,
              |    CAST(sum(n_tokens) OVER (PARTITION BY source
              |      ORDER BY pri, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS BIGINT) AS cum
              |  FROM t)
              |SELECT source, doc_id, n_tokens, cum
              |FROM c WHERE cum <= 500 ORDER BY source, cum, doc_id""".stripMargin)),

    // Per-source n-gram diversity report — the curation analytics that
    // catches mode collapse in synthetic/low-quality slices (a source
    // whose trigram type-token ratio craters, or whose top trigram owns
    // an outsized share, is TEMPLATED text; cf. the diversity screens in
    // self-instruct-style dataset papers). All counts are exact integers;
    // the two ratios are single double divisions rounded at 6 dp. 100 TB
    // shape: one explode + one (source, gram) hash aggregation (the only
    // corpus-sized shuffle, map-side combined) + a per-source rollup of
    // vocab-sized partials — aggregation-shaped end to end, no windows,
    // no joins, driver sees one row per source.
    Q("q218_ngram_diversity",
      (s, d) => {
        val counts = Tables.documents(s, d)
          .filter(TextOps.tokenCount(col("text")) >= 3)
          .select(col("source"),
            explode(TextOps.wordShingles(col("text"), 3)).as("g"))
          .groupBy("source", "g").agg(count(lit(1)).as("n"))
        counts.groupBy("source")
          .agg(sum("n").as("total_ngrams"),
            count(lit(1)).as("distinct_ngrams"),
            max("n").as("mx"))
          .select(col("source"), col("total_ngrams"), col("distinct_ngrams"),
            pround(col("distinct_ngrams").cast("double") /
              col("total_ngrams").cast("double"), 6).as("ttr"),
            pround(col("mx").cast("double") /
              col("total_ngrams").cast("double"), 6).as("top_share"))
          .orderBy("source")
      },
      Some(s"""WITH t AS (SELECT source, $sqlToks AS toks FROM documents),
              |tt AS (SELECT source, toks FROM t WHERE len(toks) >= 3),
              |gr AS (SELECT source, unnest(${sqlShingles(3)}) AS g FROM tt),
              |c AS (SELECT source, g, CAST(count(*) AS BIGINT) AS n
              |  FROM gr GROUP BY 1, 2)
              |SELECT source, CAST(sum(n) AS BIGINT) AS total_ngrams,
              |  CAST(count(*) AS BIGINT) AS distinct_ngrams,
              |  ${sqlRound("CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)", 6)} AS ttr,
              |  ${sqlRound("CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)", 6)} AS top_share
              |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    // Quality-FIRST token-budget selection — the composition CCNet/LLaMA
    // pipelines actually run: rank each source's documents by classifier
    // quality (q215's naive-Bayes log-odds) and keep the best-scoring
    // prefix whose token sum fits the budget, instead of q217's
    // hash-random prefix. The rank key is the exact nano-quantized
    // BIGINT score (doc_id tie-break), so the per-source order — and the
    // kept set — is engine-independent with no float comparisons. Same
    // 100 TB shape as q217 (one window keyed by source) on top of
    // q215's aggregation pipeline; the budget caps each source's cost.
    Q("q219_quality_budget_sample",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val budget = 600L
        val w = Window.partitionBy("source")
          .orderBy(col("score_q").desc, col("doc_id"))
        nbDocScores(s, d)
          .withColumn("cum", sum(col("n_tokens"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .filter(col("cum") <= budget)
          .select(col("source"), col("doc_id"), col("n_tokens"),
            pround(col("score_q").cast("double") / 1e9, 6).as("nb_score"),
            col("cum"))
          .orderBy("source", "cum", "doc_id")
      },
      Some(s"""WITH $nbScoreSqlCtes,
              |c AS (SELECT source, doc_id, n_tokens, score_q,
              |    CAST(sum(n_tokens) OVER (PARTITION BY source
              |      ORDER BY score_q DESC, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS BIGINT) AS cum
              |  FROM ds)
              |SELECT source, doc_id, n_tokens,
              |  ${sqlRound("CAST(score_q AS DOUBLE) / 1e9", 6)} AS nb_score, cum
              |FROM c WHERE cum <= 600 ORDER BY source, cum, doc_id""".stripMargin)),

    // Cluster-balanced sampling (diversity coreset): partition the
    // embedding space into hyperplane-LSH buckets and keep at most m
    // hash-priority-ranked members per bucket — the "spread the sample
    // across semantic clusters" selection step (the cheap cousin of
    // k-center coresets; SemDeDup's cluster machinery reused for
    // SELECTION instead of removal). Deterministic: bucket = sign
    // pattern of 4 seeded hyperplanes, priority = md5 of the vec id.
    // 100 TB shape: signature is N×P flops in one projection, and the
    // per-bucket top-m compiles to WindowGroupLimit — a map-side partial
    // top-m per partition, NOT a full per-bucket sort — so the pass
    // stays linear even when buckets grow with the corpus.
    Q("q220_cluster_sample",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val mat = graft.ohlcv.Encode.randomProjectionMatrix(64, 4, 11L)
        val sig = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
          .withColumn("bucket", graft.sim.Lsh.hyperplaneSignature(col("emb"), mat))
          // The strict dot yields a NULL signature for a malformed
          // (wrong-dim / null-holding) vector. Under the JOIN consumers a
          // NULL bucket drops out by itself, but row_number would give
          // NULLs their own window partition and RETAIN them — filter so
          // window and join consumers agree on malformed-row behavior
          // (ADVICE r10 #4). No-op on well-formed data, where the DuckDB
          // oracle's list_dot_product would have errored instead.
          .filter(col("bucket").isNotNull)
          .withColumn("pri", TextOps.md5Hash60(
            concat(lit("cs:"), col("vec_id").cast("string"))))
        sig.withColumn("rk", row_number().over(
            Window.partitionBy("bucket").orderBy(col("pri"), col("vec_id"))))
          .filter(col("rk") <= 8)
          .select(col("bucket"), col("vec_id"), col("rk"))
          .orderBy("bucket", "rk")
      },
      Some {
        val mat = graft.ohlcv.Encode.randomProjectionMatrix(64, 4, 11L)
        val sigSql = mat.zipWithIndex.map { case (pl, i) =>
          s"(CASE WHEN list_dot_product(emb, ${VectorTextQueries.arrLit(pl)}) >= 0" +
            s" THEN ${1L << i} ELSE 0 END)"
        }.mkString("(", " + ", ")")
        s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
           |sg AS (SELECT vec_id, $sigSql AS bucket FROM v),
           |p AS (SELECT vec_id, bucket,
           |    ${sqlHash60("'cs:' || CAST(vec_id AS VARCHAR)")} AS pri FROM sg),
           |r AS (SELECT bucket, vec_id,
           |    row_number() OVER (PARTITION BY bucket ORDER BY pri, vec_id) AS rk
           |  FROM p)
           |SELECT bucket, vec_id, rk FROM r WHERE rk <= 8
           |ORDER BY bucket, rk""".stripMargin
      }),

    // Distributed BPE TRAINING (Sennrich et al. 2016, arXiv:1508.07909 —
    // the public byte-pair-encoding merge-learning loop, distinct from
    // q128's single pair count): k merge steps, each picking the
    // highest-frequency adjacent symbol pair (ties → lexicographic) and
    // merging it corpus-wide. Exactly like production BPE trainers, the
    // loop runs on the WORD-TYPE frequency table, not the corpus: the
    // only corpus-sized work is the initial tokenize+count aggregation
    // (map-side combined, materialized once); each step is then one
    // vocab-sized pair aggregation (Heaps' law: |vocab| ≪ corpus) + a
    // constant-size TakeOrdered argmax collect (1 row — the learned
    // hyperparameter, like q210's epoch loop) + a per-row merge.
    //
    // The merge itself is ONE literal string replace on a boundary-safe
    // encoding — each symbol stored as ";sym;" so word "aab" is
    // ";a;;a;;b;" — because replace(";l;;r;" → ";lr;") scans leftmost,
    // non-overlapping, never rescanning its own output, in BOTH engines:
    // it implements BPE's left-to-right merge bit-identically with zero
    // custom code, and the ';' boundaries make interior false matches
    // (symbol "xa" vs pair (a,b)) impossible on the [A-Za-z0-9]+ word
    // universe. The oracle UNROLLS all k steps as pure SQL CTEs — the
    // argmax of each step feeds the next step's replace — so the hash
    // check covers the whole training trajectory with no dynamic oracle.
    Q("q221_bpe_train",
      (s, d) => {
        import s.implicits._
        bpeMerges(s, d, BpeSteps).toDF("step", "lhs", "rhs", "cnt")
          .orderBy("step")
      },
      Some {
        val out = (1 to BpeSteps).map(i =>
          s"SELECT CAST($i AS BIGINT) AS step, l AS lhs, r AS rhs, cnt FROM b$i")
          .mkString("\nUNION ALL ")
        s"""WITH ${bpeSqlCtes(BpeSteps)}
           |$out
           |ORDER BY step""".stripMargin
      }),

    // BPE APPLY — tokenize the corpus with the merges q221 just learned:
    // per document, the alphanumeric word count, the subword count after
    // all k merges, and the fertility (subwords per word — the tokenizer
    // health metric corpus curation tracks per slice). Train→apply is
    // the composition a real pipeline runs; the apply side is one
    // per-row chain of k literal replaces on the boundary-safe encoding
    // (identical in both engines, see q221) plus a single per-doc
    // aggregation — corpus-linear, one shuffle, merges enter the plan
    // as literals learned from the vocab-sized training loop.
    Q("q222_bpe_apply",
      (s, d) => {
        val merges = bpeMerges(s, d, BpeSteps)
        val enc0 = regexp_replace(col("w"), "(.)", ";$1;")
        val encK = merges.foldLeft(enc0) { case (e, (_, l, r, _)) =>
          replace(e, lit(s";$l;;$r;"), lit(s";$l$r;"))
        }
        Tables.documents(s, d)
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[A-Za-z0-9]+$"))
          .select(col("doc_id"), size(split(
            trim(encK, ";"), ";;")).cast("long").as("ns"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_words"), sum("ns").as("n_subwords"))
          .select(col("doc_id"), col("n_words"), col("n_subwords"),
            pround(col("n_subwords").cast("double") /
              col("n_words").cast("double"), 6).as("fertility"))
          .orderBy("doc_id")
      },
      Some {
        val applies = (1 to BpeSteps).map { i =>
          val prev = s"a${i - 1}"
          s"""a$i AS (SELECT doc_id,
             |    replace(enc, ';' || b$i.l || ';;' || b$i.r || ';',
             |      ';' || b$i.l || b$i.r || ';') AS enc
             |  FROM $prev CROSS JOIN b$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${bpeSqlCtes(BpeSteps)},
           |d0 AS (SELECT doc_id, w FROM
           |    (SELECT doc_id, unnest($sqlToks) AS w FROM documents)
           |  WHERE regexp_matches(w, '^[A-Za-z0-9]+$$')),
           |a0 AS (SELECT doc_id,
           |    regexp_replace(w, '(.)', ';\\1;', 'g') AS enc FROM d0),
           |$applies
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(len(string_split(trim(enc, ';'), ';;'))) AS BIGINT)
           |    AS n_subwords,
           |  ${sqlRound(
             """CAST(sum(len(string_split(trim(enc, ';'), ';;'))) AS DOUBLE) /
                CAST(count(*) AS DOUBLE)""", 6)} AS fertility
           |FROM a$BpeSteps GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // TOKENIZER FERTILITY AUDIT per source (round-14; the standard
    // tokenizer eval the BPE family stopped short of — fertility,
    // compression, and continued-word rate are the per-slice health
    // metrics of e.g. the XLM-R/BLOOM tokenizer analyses, public
    // knowledge): under the q221-learned 32-merge vocabulary, each
    // source's word occurrences are segmented and rolled up to
    //   fertility          = subwords / word,
    //   chars_per_subword  = chars / subword (≡ bytes/token on this
    //                        all-ASCII alphanumeric word universe), and
    //   continued_rate     = fraction of words split into ≥2 subwords
    //                        (the wordpiece "##"-continuation rate).
    // A source whose fertility/continued rate is an outlier is exactly
    // the slice a shared tokenizer under-serves (the mixture/curation
    // decision q275 weighs). Reuses q222's apply state verbatim (the
    // same learned-literal replace fold) with `source` carried instead
    // of doc_id, and the oracle nests the q221 CTE chain — the merge
    // table cannot drift from the trainer it audits. 100 TB shape:
    // identical to q222 (vocab-sized training loop, then ONE corpus
    // scan through k literal replaces into a source-sized rollup —
    // corpus-linear, one shuffle).
    Q("q276_bpe_fertility",
      (s, d) => {
        val merges = bpeMerges(s, d, BpeSteps)
        val enc0 = regexp_replace(col("w"), "(.)", ";$1;")
        val encK = merges.foldLeft(enc0) { case (e, (_, l, r, _)) =>
          replace(e, lit(s";$l;;$r;"), lit(s";$l$r;"))
        }
        Tables.documents(s, d)
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[A-Za-z0-9]+$"))
          .select(col("source"), length(col("w")).cast("long").as("nc"),
            size(split(trim(encK, ";"), ";;")).cast("long").as("ns"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_words"), sum("nc").as("n_chars"),
            sum("ns").as("n_subwords"),
            sum(when(col("ns") >= 2, 1L).otherwise(0L)).as("n_continued"))
          .select(col("source"), col("n_words"), col("n_chars"),
            col("n_subwords"),
            pround(col("n_subwords").cast("double") /
              col("n_words").cast("double"), 6).as("fertility"),
            pround(col("n_chars").cast("double") /
              col("n_subwords").cast("double"), 6).as("chars_per_subword"),
            pround(col("n_continued").cast("double") /
              col("n_words").cast("double"), 6).as("continued_rate"))
          .orderBy("source")
      },
      Some {
        val applies = (1 to BpeSteps).map { i =>
          val prev = s"f${i - 1}"
          s"""f$i AS (SELECT source, ncc,
             |    replace(enc, ';' || b$i.l || ';;' || b$i.r || ';',
             |      ';' || b$i.l || b$i.r || ';') AS enc
             |  FROM $prev CROSS JOIN b$i)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${bpeSqlCtes(BpeSteps)},
           |fd AS (SELECT source, w FROM
           |    (SELECT source, unnest($sqlToks) AS w FROM documents)
           |  WHERE regexp_matches(w, '^[A-Za-z0-9]+$$')),
           |f0 AS (SELECT source, len(w) AS ncc,
           |    regexp_replace(w, '(.)', ';\\1;', 'g') AS enc FROM fd),
           |$applies,
           |fx AS (SELECT source, ncc,
           |    len(string_split(trim(enc, ';'), ';;')) AS nss
           |  FROM f$BpeSteps)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(ncc) AS BIGINT) AS n_chars,
           |  CAST(sum(nss) AS BIGINT) AS n_subwords,
           |  ${sqlRound("CAST(sum(nss) AS DOUBLE) / count(*)", 6)} AS fertility,
           |  ${sqlRound("CAST(sum(ncc) AS DOUBLE) / sum(nss)", 6)}
           |    AS chars_per_subword,
           |  ${sqlRound("CAST(sum(CASE WHEN nss >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS continued_rate
           |FROM fx GROUP BY source ORDER BY source""".stripMargin
      }),

    // BPE training at REAL-tokenizer merge counts (round-10 verdict #6):
    // 32 rounds × up-to-16 batched conflict-free merges (capacity 512 ≥
    // the 256 the verdict names; the corpus's own merge CLOSURE — 31
    // word types → 89 possible merges — is the binding cap, so the
    // trainer runs to exhaustion; see the BpeBatchRounds note). q221
    // measured the sequential loop's per-step floor as JOB latency, not
    // compute (~0.1 s/step, corpus-independent): at the 10k-60k merges
    // production tokenizers learn (Sennrich 2016 §3), scheduling would
    // dominate by hours. Frequency-ordered batching is the standard
    // fix: one vocab-sized pair count per ROUND, then every candidate
    // that does not interfere with a higher-ranked one (shared symbol,
    // or a symbol the higher merge creates) merges in the same pass —
    // see [[bpeBatchConflicts]]; non-interference makes each accepted
    // pair's round-start count exact at application time. The oracle
    // unrolls all 32 rounds (batch selection via NOT EXISTS + the
    // B-deep replace chain), so the hash check covers the FULL
    // trajectory — counts, ranks, batch membership, order, and the
    // trailing exhausted rounds — not just the final vocab. 100 TB
    // shape: identical to q221's (the corpus appears only in the one
    // tokenize+count aggregation; everything after is vocab-sized),
    // with up to B× fewer driver round trips per merge learned.
    Q("q230_bpe_batch",
      (s, d) => {
        import s.implicits._
        bpeBatchedMerges(s, d)
          .toDF("round", "bk", "lhs", "rhs", "cnt")
          .orderBy("round", "bk")
      },
      Some {
        val selects = (1 to BpeBatchRounds).map { i =>
          s"SELECT CAST($i AS BIGINT) AS round, CAST(bk AS BIGINT) AS bk," +
            s" l AS lhs, r AS rhs, cnt FROM ab$i"
        }.mkString("\nUNION ALL\n")
        s"""WITH ${bpeBatchSqlCtes(BpeBatchRounds, BpeBatchB, BpeBatchW)}
           |SELECT * FROM ($selects) t ORDER BY round, bk""".stripMargin
      }),

    // Approximate-tier EVALUATION: measured precision/recall of the
    // MinHash-LSH banded candidate generator (q52's 12-hash × 4-band
    // configuration) against the exact n-gram-Jaccard ≥ 0.5 truth set
    // (q42's PPJoin) — the companion number every approximate dedup
    // tier must ship with, the way q184 scores the ANN tiers. All three
    // counts are exact integers computed as 1-row aggregates (no
    // driver-side rows); the ratios are single guarded divisions. 100 TB
    // shape: both pair generators are the already-analyzed banded /
    // prefix-filtered joins; the tp join is pair-list-sized. At 100 TB
    // the exact PPJoin TRUTH tier is the dominant cost (17.8 s @30×,
    // SCALING.md) — an eval at that scale runs on a deterministic
    // sample, which is exactly what q224 registers; hence the
    // scaleLimited annotation even though the measured 30× ratio (2.61)
    // is inside the linear budget.
    Q("q223_lsh_dedup_eval",
      (s, d) => {
        import graft.text.Dedup
        val cand = Cached.persist(Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id",
          "text", shingleN = 3, numHashes = 12, bands = 4)
          .select("id_a", "id_b"))
        val truth = Cached.persist(Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id",
          "text", shingleN = 3, threshold = 0.5)
          .select("id_a", "id_b"))
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(truth.agg(count(lit(1)).as("n_true")))
          .crossJoin(cand.join(truth, Seq("id_a", "id_b"))
            .agg(count(lit(1)).as("tp")))
          .select(col("n_candidates"), col("n_true"), col("tp"),
            pround(when(col("n_candidates") === 0, 0.0)
              .otherwise(col("tp").cast("double") /
                col("n_candidates").cast("double")), 6).as("prec"),
            pround(when(col("n_true") === 0, 0.0)
              .otherwise(col("tp").cast("double") /
                col("n_true").cast("double")), 6).as("rec"))
      },
      oracle = None,
      // Deferred assembly (oracleDyn): the oracle nests q52's and q42's
      // own registered oracle SQL as CTEs, so the eval's truth/candidate
      // definitions can never drift from the queries it scores; building
      // it lazily avoids object-initialization ordering between the
      // query registries.
      oracleDyn = Some { () =>
        val byName = VectorTextQueries.all.map(q => q.name -> q).toMap
        val q52 = byName("q52_minhash_pairs").oracle.get
        val q42 = byName("q42_ngram_jaccard").oracle.get
        s"""WITH cand AS ($q52),
           |truth AS ($q42),
           |tp0 AS (SELECT CAST(count(*) AS BIGINT) AS tp
           |  FROM cand JOIN truth USING (id_a, id_b)),
           |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)
           |SELECT n_candidates, n_true, tp,
           |  ${sqlRound(
             """CASE WHEN n_candidates = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) END""",
             6)} AS prec,
           |  ${sqlRound(
             """CASE WHEN n_true = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END""",
             6)} AS rec
           |FROM nc CROSS JOIN nt CROSS JOIN tp0""".stripMargin
      },
      // Terminal scale path is the fixed-BUDGET eval (q229): q224's
      // fixed-rate sample cuts the constant but keeps the growth.
      scaleLimited = Some("q229_dedup_eval_budget")),

    // q223 on a DETERMINISTIC HASH-SAMPLE of the corpus — the 100 TB
    // shape of dedup-tier evaluation (round-9 verdict item #4): the
    // exact PPJoin truth tier q223 must run is the expensive side, so at
    // scale precision/recall is estimated on a sample. The sample is a
    // multiplicative-hash predicate on doc_id ([[Hashing.hash32]]: Knuth
    // constant behind an overflow-safe prime fold; rate 1/2 as a plan
    // literal shared with the SQL below) — deterministic,
    // engine-identical over the full BIGINT id range, and unbiased
    // w.r.t. doc-id assignment order, unlike `doc_id % m` which is a
    // systematic sample. Pair metrics on
    // a rate-p sample see ~p² of the true pairs — the standard
    // estimator tradeoff (variance up, cost down p²·quadratic).
    Q("q224_lsh_eval_sampled",
      (s, d) => {
        import graft.text.Dedup
        val sdocs = Tables.documents(s, d)
          .filter(Hashing.hash32(col("doc_id")) < lit(2147483648L))
        val cand = Cached.persist(Dedup.minhashLshPairs(sdocs, "doc_id",
          "text", shingleN = 3, numHashes = 12, bands = 4)
          .select("id_a", "id_b"))
        val truth = Cached.persist(Dedup.ngramJaccardPairs(sdocs, "doc_id",
          "text", shingleN = 3, threshold = 0.5)
          .select("id_a", "id_b"))
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(truth.agg(count(lit(1)).as("n_true")))
          .crossJoin(cand.join(truth, Seq("id_a", "id_b"))
            .agg(count(lit(1)).as("tp")))
          .select(col("n_candidates"), col("n_true"), col("tp"),
            pround(when(col("n_candidates") === 0, 0.0)
              .otherwise(col("tp").cast("double") /
                col("n_candidates").cast("double")), 6).as("prec"),
            pround(when(col("n_true") === 0, 0.0)
              .otherwise(col("tp").cast("double") /
                col("n_true").cast("double")), 6).as("rec"))
      },
      oracle = None,
      // Same drift-proof nesting as q223 — q52's/q42's own registered
      // SQL verbatim — with one addition: a CTE named `documents` over
      // the hash-sample (DuckDB resolves the base view via the explicit
      // `main.` schema), so the nested oracles read the sampled corpus
      // without any textual surgery on their SQL.
      oracleDyn = Some { () =>
        val byName = VectorTextQueries.all.map(q => q.name -> q).toMap
        val q52 = byName("q52_minhash_pairs").oracle.get
        val q42 = byName("q42_ngram_jaccard").oracle.get
        s"""WITH documents AS (SELECT * FROM main.documents
           |  WHERE ${Hashing.sqlHash32("doc_id")} < 2147483648),
           |cand AS ($q52),
           |truth AS ($q42),
           |tp0 AS (SELECT CAST(count(*) AS BIGINT) AS tp
           |  FROM cand JOIN truth USING (id_a, id_b)),
           |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)
           |SELECT n_candidates, n_true, tp,
           |  ${sqlRound(
             """CASE WHEN n_candidates = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) END""",
             6)} AS prec,
           |  ${sqlRound(
             """CASE WHEN n_true = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END""",
             6)} AS rec
           |FROM nc CROSS JOIN nt CROSS JOIN tp0""".stripMargin
      },
      // A fixed RATE halves the pair-mass constant but keeps its growth
      // (measured 4.46× @30× in round 10 — the suite's highest octave
      // ratio); the fixed-BUDGET form below is the terminal scale path.
      scaleLimited = Some("q229_dedup_eval_budget")),

    // Fixed-BUDGET dedup-tier eval — the scale-PROOF form of the
    // sampled evaluation (round-10 verdict #1). q224's fixed-rate
    // sample (p = 1/2) halves the truth tier's pair-mass constant but
    // keeps its growth: pair mass on a rate-p sample is still
    // p²·O(pairs(N)). Here the hash threshold is computed FROM the
    // corpus count — keep doc iff hash32(doc_id) < floor(M·2^32 / N),
    // M = 250 — so expected sampled docs ≈ M REGARDLESS of corpus
    // size: the eval's cost is one linear count scan + one corpus scan
    // for the filter + an O(M²)-bounded pair stage. Deterministic (same
    // overflow-safe multiplicative hash as q224/q226), collect-free
    // (the threshold is a broadcast 1-row aggregate, not a plan
    // literal), and oracle-expressible (the threshold CTE computes
    // identically in DuckDB — pure IEEE double division + floor).
    // Continuity: at N = 500 (the sf0.001/sf0.01 corpus)
    // floor(250·2^32/500) = 2^31 is exactly q224's rate-1/2 cut, so the
    // two evals coincide at base scale and diverge only as the corpus
    // grows. Estimator caveat (documented, inherent): a budget sample's
    // rate p = M/N shrinks with N, so pair-metric variance grows with
    // corpus size — the standard monitoring tradeoff (bounded cost,
    // loosening confidence), to be read as a health indicator, not a
    // census.
    Q("q229_dedup_eval_budget",
      (s, d) => {
        import graft.text.Dedup
        val docs = Tables.documents(s, d)
        val thr = docs.agg(count(lit(1)).as("c"))
          .select(floor(lit(250L * 4294967296L).cast("double") /
            col("c").cast("double")).as("thr"))
        // Persist the M-sized sample: one corpus scan feeds the filter;
        // candidate tier, truth tier, and the n_docs audit column all
        // reuse the cached bounded set.
        val sdocs = Cached.persist(docs.crossJoin(broadcast(thr))
          .filter(Hashing.hash32(col("doc_id")) < col("thr"))
          .drop("thr"))
        val cand = Cached.persist(Dedup.minhashLshPairs(sdocs, "doc_id",
          "text", shingleN = 3, numHashes = 12, bands = 4)
          .select("id_a", "id_b"))
        val truth = Cached.persist(Dedup.ngramJaccardPairs(sdocs, "doc_id",
          "text", shingleN = 3, threshold = 0.5)
          .select("id_a", "id_b"))
        sdocs.agg(count(lit(1)).as("n_docs"))
          .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
          .crossJoin(truth.agg(count(lit(1)).as("n_true")))
          .crossJoin(cand.join(truth, Seq("id_a", "id_b"))
            .agg(count(lit(1)).as("tp")))
          .select(col("n_docs"), col("n_candidates"), col("n_true"),
            col("tp"),
            pround(when(col("n_candidates") === 0, 0.0)
              .otherwise(col("tp").cast("double") /
                col("n_candidates").cast("double")), 6).as("prec"),
            pround(when(col("n_true") === 0, 0.0)
              .otherwise(col("tp").cast("double") /
                col("n_true").cast("double")), 6).as("rec"))
      },
      oracle = None,
      // Same drift-proof nesting as q223/q224 — q52's/q42's registered
      // SQL verbatim over a `documents` CTE holding the budget sample;
      // the threshold CTE makes the oracle corpus-size-generic (no
      // baked-in N).
      oracleDyn = Some { () =>
        val byName = VectorTextQueries.all.map(q => q.name -> q).toMap
        val q52 = byName("q52_minhash_pairs").oracle.get
        val q42 = byName("q42_ngram_jaccard").oracle.get
        s"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS c
           |  FROM main.documents),
           |thr AS (SELECT floor(CAST(250 * 4294967296 AS DOUBLE)
           |    / CAST(c AS DOUBLE)) AS t FROM nn),
           |documents AS (SELECT d.* FROM main.documents d, thr
           |  WHERE ${Hashing.sqlHash32("d.doc_id")} < t),
           |cand AS ($q52),
           |truth AS ($q42),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs
           |  FROM documents),
           |tp0 AS (SELECT CAST(count(*) AS BIGINT) AS tp
           |  FROM cand JOIN truth USING (id_a, id_b)),
           |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)
           |SELECT n_docs, n_candidates, n_true, tp,
           |  ${sqlRound(
             """CASE WHEN n_candidates = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / CAST(n_candidates AS DOUBLE) END""",
             6)} AS prec,
           |  ${sqlRound(
             """CASE WHEN n_true = 0 THEN 0.0
                ELSE CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END""",
             6)} AS rec
           |FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN tp0""".stripMargin
      }),

    // Rule-based PII redaction — the scrub stage every public pretraining
    // pipeline runs before anything else touches the text (C4 strips
    // pages by keyword; the BigScience ROOTS pipeline and CCNet-style
    // cleaners mask emails/IPs/phones with regex rules — public
    // knowledge). The synthetic corpus contains no organic PII, so the
    // query derives a PII-bearing variant of each row IN PLAN — the same
    // doc_id-driven concat in both engines, no data synthesized outside
    // the table — and then redacts it, so the match/replace/count
    // machinery is exercised on real matches. Patterns stay inside the
    // Java-regex ∩ RE2 common subset (character classes, bounded repeats,
    // \b anchors; no lookaround, no backreferences) so both engines
    // compile the same automaton. Replacement ORDER is load-bearing:
    // emails first (their domain part would otherwise feed the IP rule a
    // dotted token), then IPs, then phones. 100 TB shape: a per-row
    // chain of six codegen'd regexp ops — embarrassingly parallel, zero
    // shuffles, zero UDFs; counts are computed pre-redaction so the
    // audit row survives even though the raw text does not.
    Q("q225_pii_redact",
      (s, d) => {
        val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
        val ipRe = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
        val phoneRe = """\+\d{1,2}-\d{3}-\d{4}"""
        val aug = Tables.documents(s, d).select(
          col("doc_id"), col("source"),
          concat(col("text"),
            lit(" contact user"), col("doc_id"),
            lit("@mail"), col("doc_id") % lit(7L), lit(".com from "),
            col("doc_id") % lit(223L) + lit(1L), lit("."),
            col("doc_id") % lit(251L), lit("."),
            (col("doc_id") * lit(7L)) % lit(253L), lit("."),
            col("doc_id") % lit(254L) + lit(1L),
            lit(" call +1-555-"),
            lpad((col("doc_id") % lit(10000L)).cast("string"), 4, "0"))
            .as("aug"))
        aug.select(
          col("doc_id"), col("source"),
          regexp_count(col("aug"), lit(emailRe)).cast("long").as("n_email"),
          regexp_count(col("aug"), lit(ipRe)).cast("long").as("n_ip"),
          regexp_count(col("aug"), lit(phoneRe)).cast("long").as("n_phone"),
          regexp_replace(
            regexp_replace(
              regexp_replace(col("aug"), emailRe, "<EMAIL>"),
              ipRe, "<IP>"),
            phoneRe, "<PHONE>").as("redacted"))
      },
      Some("""WITH aug AS (SELECT doc_id, source,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.com from '
             |      || CAST(doc_id % 223 + 1 AS VARCHAR) || '.'
             |      || CAST(doc_id % 251 AS VARCHAR) || '.'
             |      || CAST((doc_id * 7) % 253 AS VARCHAR) || '.'
             |      || CAST(doc_id % 254 + 1 AS VARCHAR)
             |      || ' call +1-555-'
             |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
             |  FROM documents)
             |SELECT doc_id, source,
             |  CAST(len(regexp_extract_all(aug,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             |    AS n_email,
             |  CAST(len(regexp_extract_all(aug,
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
             |    AS n_ip,
             |  CAST(len(regexp_extract_all(aug,
             |    '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phone,
             |  regexp_replace(regexp_replace(regexp_replace(aug,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |    '<EMAIL>', 'g'),
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |    '\+\d{1,2}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
             |FROM aug ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test split manifest — the "data card" the
    // split step of every corpus release publishes (per-source × split
    // doc/char/token counts). Assignment is a multiplicative hash of
    // doc_id (Knuth constant, same literal both engines) bucketed 90/5/5,
    // NOT doc_id % k: a modulus split is systematic w.r.t. ingestion
    // order and silently correlates with any id-ordered attribute, while
    // the hash is uniform and — critically for reproducible releases —
    // a pure function of the stable id, so re-running the split on a
    // grown corpus never reassigns an old document. 100 TB shape: one
    // per-row hash + one (source, split) hash aggregation with map-side
    // combine; output is catalog-sized.
    Q("q226_split_manifest",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("source"), splitOf(col("doc_id")).as("split"),
            col("n_chars"),
            TextOps.tokenCount(col("text")).cast("long").as("n_toks"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum("n_toks").as("sum_tokens"))
      },
      Some(s"""WITH a AS (SELECT source,
              |    ${sqlSplitOf("doc_id")} AS split,
              |    n_chars, CAST(len($sqlToks) AS BIGINT) AS n_toks
              |  FROM documents)
              |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
              |  CAST(sum(n_toks) AS BIGINT) AS sum_tokens
              |FROM a GROUP BY source, split
              |ORDER BY source, split""".stripMargin)),

    // MOSS-style match detection (Schleimer et al. 2003 §5, public
    // knowledge): candidate near-dup pairs = documents sharing RARE
    // winnowing fingerprints, scored by Jaccard over each doc's rare-
    // fingerprint set. The df ≤ 64 prune is the paper's own "ignore
    // very common fingerprints" rule and the 100 TB lever: it caps the
    // per-fingerprint bucket at dfMax docs, so the self-join's pair mass
    // is ≤ dfMax²/2 per bucket — pigeonhole-bounded like the banded LSH
    // tiers, never quadratic in the corpus (measured here: Σdf² 7.7 k
    // pruned vs 6.6 M unpruned at sf0.01). Fingerprints come from the
    // q105 kernel (zero-shuffle per-doc expression); the rare-fp frame
    // feeds three consumers (both join sides + per-doc sizes), so it is
    // persisted and materialized once — the q207 pattern.
    Q("q227_winnow_pairs",
      (s, d) => {
        val dfMax = 64; val minShared = 2; val kTop = 50
        val f = TextOps.winnowingFingerprints(
          Tables.documents(s, d), "doc_id", "text", k = 4, w = 5)
        val rare = f.groupBy("fp")
          .agg(count(lit(1)).as("df")).filter(col("df") <= dfMax)
          .select("fp")
        val rf = Cached.persist(f.join(rare, "fp"))
        rf.count()
        val sizes = rf.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val a = rf.select(col("fp"), col("doc_id").as("doc_a"))
        val b = rf.select(col("fp"), col("doc_id").as("doc_b"))
        a.join(b, "fp").filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= minShared)
          .join(sizes.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("sz", "sa"), "doc_a")
          .join(sizes.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("sz", "sb"), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("shared"),
            pround(col("shared").cast("double") /
              (col("sa") + col("sb") - col("shared")).cast("double"), 6)
              .as("score"))
          .orderBy(col("score").desc, col("doc_a"), col("doc_b"))
          .limit(kTop)
      },
      oracle = None,
      // Drift-proof nesting (the q223 pattern): the fingerprint relation
      // is q105's own registered oracle SQL verbatim.
      oracleDyn = Some { () =>
        val q105 = VectorTextQueries.all
          .find(_.name == "q105_winnowing").get.oracle.get
        s"""WITH f AS ($q105),
           |dfc AS (SELECT fp, CAST(count(*) AS BIGINT) AS df
           |  FROM f GROUP BY fp),
           |rf AS (SELECT f.doc_id, f.fp FROM f
           |  JOIN dfc USING (fp) WHERE dfc.df <= 64),
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
           |  FROM rf GROUP BY doc_id),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(count(*) AS BIGINT) AS shared
           |  FROM rf a JOIN rf b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT doc_a, doc_b, shared,
           |  ${sqlRound(
             "CAST(shared AS DOUBLE) / CAST(sa.sz + sb.sz - shared AS DOUBLE)",
             6)} AS score
           |FROM p JOIN sz sa ON sa.doc_id = p.doc_a
           |JOIN sz sb ON sb.doc_id = p.doc_b
           |ORDER BY score DESC, doc_a, doc_b LIMIT 50""".stripMargin
      }),

    // Cross-split LEAKAGE audit — the check every corpus release runs
    // after splitting: near-duplicate pairs that STRADDLE train/val/test
    // mean the eval split is contaminated by training data (the
    // Lee et al. 2022 "Deduplicating Training Data" motivation). The
    // near-dup tier is q52's MinHash-LSH candidate generator and the
    // split is q226's multiplicative-hash assignment — both reused by
    // definition (the oracle nests q52's registered SQL verbatim and
    // repeats q226's split expression), so the audit can never drift
    // from the queries it composes. Output is split-pair × count — a
    // catalog-sized report; the only corpus work is the signature scan
    // and band join already analyzed under q52. A healthy split shows
    // cross-pairs ∝ 2·p_a·p_b of the dup mass (hash assignment is
    // independent of content); a zero cross row next to nonzero
    // within-train dups would itself be suspicious.
    Q("q228_split_leakage",
      (s, d) => {
        import graft.text.Dedup
        def split(idc: Column) = splitOf(idc)
        val pairs = Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id",
          "text", shingleN = 3, numHashes = 12, bands = 4)
        pairs
          .select(least(split(col("id_a")), split(col("id_b"))).as("split_lo"),
            greatest(split(col("id_a")), split(col("id_b"))).as("split_hi"))
          .groupBy("split_lo", "split_hi")
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("crosses_split",
            (col("split_lo") =!= col("split_hi")).cast("int"))
      },
      oracle = None,
      oracleDyn = Some { () =>
        val q52 = VectorTextQueries.all
          .find(_.name == "q52_minhash_pairs").get.oracle.get
        def sql(c: String) = sqlSplitOf(c)
        s"""WITH pr AS ($q52),
           |lab AS (SELECT least(${sql("id_a")}, ${sql("id_b")}) AS split_lo,
           |    greatest(${sql("id_a")}, ${sql("id_b")}) AS split_hi
           |  FROM pr)
           |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(split_lo <> split_hi AS INT) AS crosses_split
           |FROM lab GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    // Temperature-based source mixing weights — the multilingual/
    // multi-domain sampling formula every large pretraining run uses
    // (public knowledge: XLM/XLM-R sample language i with probability
    // p_i^α / Σ p_j^α to up-weight low-resource sources; mT5 §3.2 calls
    // it temperature sampling). α = 1/2 here — square-root sampling —
    // deliberately: IEEE-754 sqrt is CORRECTLY ROUNDED in both engines
    // (pow is not), and the per-source √n weights are quantized to
    // 1e-6-grid BIGINTs before the normalizing sum so the sum is
    // order-free integer arithmetic — no float-summation-order parity
    // risk. Output is catalog-sized (one row per source): n_tokens, the
    // natural share p, the tempered share q, and boost = q/p (the
    // up/down-weight factor a sampler applies). 100 TB shape: one
    // map-side-combined token-count aggregation; everything after is
    // per-source scalar math on a broadcast 1-row total.
    Q("q231_source_temperature",
      (s, d) => {
        val per = Tables.documents(s, d)
          .select(col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("nt"))
          .groupBy("source").agg(sum("nt").as("n_tokens"))
          .withColumn("s_q",
            floor(sqrt(col("n_tokens").cast("double")) * 1e6 + 0.5)
              .cast("long"))
        val tot = per.agg(sum("n_tokens").as("tot_n"), sum("s_q").as("tot_s"))
        per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_tokens"),
            pround(col("n_tokens").cast("double") /
              col("tot_n").cast("double"), 6).as("p"),
            pround(col("s_q").cast("double") /
              col("tot_s").cast("double"), 6).as("q"),
            pround((col("s_q").cast("double") / col("tot_s").cast("double")) /
              (col("n_tokens").cast("double") / col("tot_n").cast("double")),
              6).as("boost"))
          .orderBy("source")
      },
      Some(s"""WITH per AS (SELECT source,
              |    CAST(sum(len($sqlToks)) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY source),
              |w AS (SELECT source, n_tokens,
              |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5)
              |      AS BIGINT) AS s_q
              |  FROM per),
              |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_n,
              |    CAST(sum(s_q) AS BIGINT) AS tot_s FROM w)
              |SELECT source, n_tokens,
              |  ${sqlRound("CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE)", 6)} AS p,
              |  ${sqlRound("CAST(s_q AS DOUBLE) / CAST(tot_s AS DOUBLE)", 6)} AS q,
              |  ${sqlRound(
                """(CAST(s_q AS DOUBLE) / CAST(tot_s AS DOUBLE)) /
                   (CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE))""", 6)} AS boost
              |FROM w CROSS JOIN tot ORDER BY source""".stripMargin)),

    // Effective-token accounting after near-dup dedup — the release
    // metric Lee et al. 2022 motivates (dedup removes a measurable
    // fraction of the training tokens, and the honest dataset size is
    // the POST-dedup one): per source, docs/tokens before vs after
    // q125's APPLY rule (keep every unclustered doc + each simhash
    // cluster's min-id keeper). The survivor definition is shared CODE
    // with q125 ([[dedupSurvivors]]) and the oracle reuses q125's CTE
    // chain verbatim, so the accounting can never drift from the apply
    // it audits. 100 TB shape: q125's pigeonhole band join + a
    // catalog-sized rollup; the left join adds one doc_id-keyed hash
    // join over the corpus.
    Q("q232_effective_tokens",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("nt"))
        val kept = dedupSurvivors(s, d)
          .select(col("doc_id")).withColumn("__kept", lit(1L))
        tok.join(kept, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("nt").as("n_tokens"),
            sum(coalesce(col("__kept"), lit(0L))).as("kept_docs"),
            sum(when(col("__kept") === 1L, col("nt")).otherwise(0L))
              .as("kept_tokens"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("kept_docs"), col("kept_tokens"),
            pround(col("kept_tokens").cast("double") /
              col("n_tokens").cast("double"), 6).as("kept_ratio"))
          .orderBy("source")
      },
      Some {
        s"""WITH RECURSIVE $dedupSurvivorsSqlCtes,
           |tok AS (SELECT doc_id, source,
           |    CAST(len($sqlToks) AS BIGINT) AS nt FROM documents),
           |k AS (SELECT doc_id FROM documents
           |  WHERE doc_id NOT IN (SELECT doc_id FROM losers))
           |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(t.nt) AS BIGINT) AS n_tokens,
           |  CAST(count(k.doc_id) AS BIGINT) AS kept_docs,
           |  CAST(coalesce(sum(CASE WHEN k.doc_id IS NOT NULL THEN t.nt
           |    ELSE 0 END), 0) AS BIGINT) AS kept_tokens,
           |  ${sqlRound(
             """CAST(coalesce(sum(CASE WHEN k.doc_id IS NOT NULL THEN t.nt
                  ELSE 0 END), 0) AS DOUBLE) / CAST(sum(t.nt) AS DOUBLE)""",
             6)} AS kept_ratio
           |FROM tok t LEFT JOIN k ON k.doc_id = t.doc_id
           |GROUP BY t.source ORDER BY t.source""".stripMargin
      },
      // Under the 100× budget today (43.6), but the growth is structural
      // (the simhash band join's fixed 7 × 2^8.5 bucket space — SCALING.md
      // round 11); q239 is the same accounting on the measured-linear
      // banded-verified tier. Annotated proactively so a 100 TB user is
      // pointed at the right plan before the curve crosses the budget.
      scaleLimited = Some("q239_effective_tokens_banded")),

    // Mixing schedule under a token budget — q231's tempered shares
    // turned into the plan a data loader actually executes. Budget
    // T = 3 × total corpus tokens (three corpus-epochs, so the budget
    // scales WITH the corpus and the query stays scale-free); source i
    // is allotted target_i = T·q_i tokens, i.e. epochs_i = target_i/n_i
    // passes over its data. Epochs are capped at 4 — Muennighoff et al.
    // 2023 ("Scaling Data-Constrained LMs", public): repeating data up
    // to ~4 epochs is nearly as good as fresh data, beyond that returns
    // decay rapidly — so eff_tokens = least(target, 4·n) is pure BIGINT
    // arithmetic (no float-boundary parity risk) and `capped` marks the
    // sources whose tempered allotment exceeds the repeat ceiling.
    // Parity notes: the only float products are 3.0·tot_n·(s_q/tot_s),
    // written with identical association in both engines (left-assoc
    // multiply, one division), and the pround'd epoch ratios. 100 TB
    // shape: identical to q231 — one map-side-combined token count,
    // then catalog-sized scalar math on a broadcast 1-row total.
    Q("q233_mix_schedule",
      (s, d) => {
        val per = Tables.documents(s, d)
          .select(col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("nt"))
          .groupBy("source").agg(sum("nt").as("n_tokens"))
          .withColumn("s_q",
            floor(sqrt(col("n_tokens").cast("double")) * 1e6 + 0.5)
              .cast("long"))
        val tot = per.agg(sum("n_tokens").as("tot_n"), sum("s_q").as("tot_s"))
        val target = floor(lit(3.0) * col("tot_n").cast("double") *
          (col("s_q").cast("double") / col("tot_s").cast("double")))
          .cast("long")
        per.crossJoin(broadcast(tot))
          .withColumn("target_tokens", target)
          .select(col("source"), col("n_tokens"), col("target_tokens"),
            pround(col("target_tokens").cast("double") /
              col("n_tokens").cast("double"), 6).as("epochs"),
            (col("target_tokens") > col("n_tokens") * 4L).cast("int")
              .as("capped"),
            least(col("target_tokens"), col("n_tokens") * 4L)
              .as("eff_tokens"),
            pround(least(col("target_tokens"), col("n_tokens") * 4L)
              .cast("double") / col("n_tokens").cast("double"), 6)
              .as("epochs_eff"))
          .orderBy("source")
      },
      Some(s"""WITH per AS (SELECT source,
              |    CAST(sum(len($sqlToks)) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY source),
              |w AS (SELECT source, n_tokens,
              |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6 + 0.5)
              |      AS BIGINT) AS s_q
              |  FROM per),
              |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_n,
              |    CAST(sum(s_q) AS BIGINT) AS tot_s FROM w),
              |t AS (SELECT source, n_tokens,
              |    CAST(floor(3.0 * CAST(tot_n AS DOUBLE) *
              |      (CAST(s_q AS DOUBLE) / CAST(tot_s AS DOUBLE)))
              |      AS BIGINT) AS target_tokens
              |  FROM w CROSS JOIN tot)
              |SELECT source, n_tokens, target_tokens,
              |  ${sqlRound("CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 6)} AS epochs,
              |  CAST(target_tokens > n_tokens * 4 AS INT) AS capped,
              |  least(target_tokens, n_tokens * 4) AS eff_tokens,
              |  ${sqlRound(
                """CAST(least(target_tokens, n_tokens * 4) AS DOUBLE) /
                   CAST(n_tokens AS DOUBLE)""", 6)} AS epochs_eff
              |FROM t ORDER BY source""".stripMargin)),

    // Token-balanced shard manifest — the loader-side layout step after
    // the mix is decided (q233): a 1000-worker data loader wants S
    // shards of near-equal TOKEN mass, not equal doc counts (doc length
    // is heavy-tailed, so hash-random sharding leaves the largest shard
    // several percent hot and every epoch waits on it). Folded ("snake")
    // round-robin over the size-descending order is the classic
    // deterministic balancer: rank docs by (n_tokens DESC, doc_id), deal
    // rank r to shard r%S on even passes and S-1-r%S on odd passes —
    // after each pass pair every shard holds one long and one short
    // pick, so shard totals differ by at most a few document lengths,
    // and the assignment is a pure function of the corpus (greedy LPT
    // is not: its argmin depends on accumulation order). 100 TB shape:
    // the global rank is [[graft.text.Packing.snakeShards]]'s two-pass
    // distributed pattern (range-partition by the sort key, per-
    // partition counts prefix-summed on the driver, one streaming pass
    // to assign ranks) — no global window, no single-partition
    // collapse; the driver handles #partitions values, never rows.
    // Per-doc manifest output, so the oracle checks every rank-level
    // assignment, not just the shard totals (ShardManifestSpec asserts
    // the balance law separately).
    Q("q234_shard_manifest",
      (s, d) =>
        graft.text.Packing.snakeShards(
          Tables.documents(s, d), "doc_id",
          TextOps.tokenCount(col("text")), numShards = 16)
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
              |r AS (SELECT doc_id, n_tokens,
              |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
              |  FROM t)
              |SELECT doc_id, n_tokens,
              |  CAST(CASE WHEN (rk // 16) % 2 = 0 THEN rk % 16
              |    ELSE 15 - (rk % 16) END AS BIGINT) AS shard
              |FROM r ORDER BY doc_id""".stripMargin)),

    // Contrastive-pair mining over the LSH candidate tier — how
    // retrieval/embedding training sets (E5, GTE; public recipes) are
    // actually assembled: the band join proposes pairs that share
    // SOMETHING, exact n-gram Jaccard then splits them into positives
    // (J ≥ 0.5 — q42's near-dup bar) and HARD negatives (J < 0.2:
    // lexically overlapping enough to collide in a band, yet not
    // duplicates — exactly the pairs a bi-encoder learns the most
    // from). The ambiguous middle band [0.2, 0.5) is dropped, standard
    // practice so label noise doesn't straddle the margin. 100 TB
    // shape: q52's banded candidate generation bounds the pair mass
    // (never corpus-quadratic); scoring is one sorted-set intersect per
    // candidate; the shingle-set frame is the same per-doc map work as
    // q42's. Oracle nests q52's registered SQL verbatim (the q229
    // drift-proofing pattern) and LEFT-joins the intersect counts so a
    // zero-overlap band collision still surfaces as a hard negative in
    // both engines.
    Q("q237_contrastive_pairs",
      (s, d) => {
        import graft.text.Dedup
        val docs = Tables.documents(s, d)
        val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
          shingleN = 3, numHashes = 12, bands = 4)
          .select("id_a", "id_b")
        val sh = docs.select(col("doc_id"), explode(array_distinct(
            TextOps.wordShingles(col("text"), 3))).as("__s"))
          .select(col("doc_id"), TextOps.md5Hash60(col("__s")).as("shingle"))
          .distinct()
        val sets = sh.groupBy("doc_id")
          .agg(sort_array(collect_list(col("shingle"))).as("hs"),
            count(lit(1)).as("n"))
        val scored = cand
          .join(sets.select(col("doc_id").as("id_a"),
            col("hs").as("hs_a"), col("n").as("n_a")), "id_a")
          .join(sets.select(col("doc_id").as("id_b"),
            col("hs").as("hs_b"), col("n").as("n_b")), "id_b")
          .withColumn("n_inter",
            size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
          .withColumn("jac", col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
        scored.filter(col("jac") >= 0.5 || col("jac") < 0.2)
          .select(col("id_a"), col("id_b"),
            pround(col("jac"), 6).as("jaccard"),
            when(col("jac") >= 0.5, lit("pos"))
              .otherwise(lit("hard_neg")).as("label"))
          .orderBy("id_a", "id_b")
      },
      oracle = None,
      oracleDyn = Some { () =>
        val q52 = VectorTextQueries.all
          .find(_.name == "q52_minhash_pairs").get.oracle.get
        s"""WITH cand AS ($q52),
           |toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
           |sh AS (SELECT DISTINCT doc_id, ${sqlHash60("s0")} AS s FROM (
           |  SELECT doc_id, unnest(list_distinct(${sqlShingles(3)})) AS s0
           |  FROM toks WHERE len(toks) >= 3)),
           |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           |  FROM sh GROUP BY doc_id),
           |inter AS (SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS ni
           |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
           |    JOIN sh b ON b.doc_id = c.id_b AND a.s = b.s
           |  GROUP BY c.id_a, c.id_b),
           |j AS (SELECT c.id_a, c.id_b,
           |    CAST(coalesce(i.ni, 0) AS BIGINT) AS n_inter
           |  FROM cand c LEFT JOIN inter i
           |    ON c.id_a = i.id_a AND c.id_b = i.id_b),
           |sc AS (SELECT j.id_a, j.id_b,
           |    CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter) AS jac
           |  FROM j JOIN sz x ON j.id_a = x.doc_id
           |    JOIN sz y ON j.id_b = y.doc_id)
           |SELECT id_a, id_b, ${sqlRound("jac", 6)} AS jaccard,
           |  CASE WHEN jac >= 0.5 THEN 'pos' ELSE 'hard_neg' END AS label
           |FROM sc WHERE jac >= 0.5 OR jac < 0.2
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // Deterministic per-epoch shuffle plan over q234's shards — the
    // last loader requirement the suite lacked: a trainer wants a
    // DIFFERENT document order each epoch (shuffling between epochs
    // measurably helps convergence — public knowledge since Bengio's
    // curriculum/SGD practice notes) that is nonetheless REPRODUCIBLE
    // for restarts and audits. Salting the portable hash with the epoch
    // number gives both: within each (epoch, shard) the order is the
    // hash order of ("ep<e>:<doc_id>") — uncorrelated across epochs,
    // identical across runs and engines. 100 TB shape: the window is
    // partitioned by (epoch, shard) — 64 bounded partitions of corpus/S
    // rows each, no global window; the epoch multiplier is a constant
    // 4× map-side explode.
    Q("q238_epoch_order",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val manifest = graft.text.Packing.snakeShards(
          Tables.documents(s, d), "doc_id",
          TextOps.tokenCount(col("text")), numShards = 16)
        val e = manifest
          .withColumn("epoch",
            explode(array((0 to 3).map(i => lit(i.toLong)): _*)))
          .withColumn("pri", TextOps.md5Hash60(
            concat(lit("ep"), col("epoch").cast("string"),
              lit(":"), col("doc_id").cast("string"))))
        val w = Window.partitionBy("epoch", "shard")
          .orderBy(col("pri"), col("doc_id"))
        e.withColumn("ord", row_number().over(w).cast("long"))
          .select(col("epoch"), col("shard"), col("doc_id"), col("ord"))
          .orderBy("epoch", "shard", "ord")
      },
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len($sqlToks) AS BIGINT) AS n_tokens FROM documents),
              |r AS (SELECT doc_id, n_tokens,
              |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rk
              |  FROM t),
              |m AS (SELECT doc_id,
              |    CAST(CASE WHEN (rk // 16) % 2 = 0 THEN rk % 16
              |      ELSE 15 - (rk % 16) END AS BIGINT) AS shard
              |  FROM r),
              |ep AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS epoch),
              |p AS (SELECT epoch, shard, doc_id,
              |    ${sqlHash60("'ep' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS pri
              |  FROM m CROSS JOIN ep)
              |SELECT epoch, shard, doc_id,
              |  CAST(row_number() OVER (PARTITION BY epoch, shard
              |    ORDER BY pri, doc_id) AS BIGINT) AS ord
              |FROM p ORDER BY epoch, shard, ord""".stripMargin)),

    // q232's accounting under the BANDED-VERIFIED tier — the designated
    // 100 TB path for the near-dup apply/accounting consumers, chosen
    // by measurement, not argument. The round-11 100× sweep timed all
    // three pair tiers on the same blowup: minhash band join 3.79
    // (LINEAR — its band-signature space grows with content, 4.5 M
    // candidates in 2.1 s), simhash band join 48.45, PPJoin 52.80.
    // The simhash bend is algorithmic: exact pigeonhole banding over a
    // 60-bit fingerprint at hamming ≤ 6 needs ≥ 7 bands, so band width
    // is capped at ~8.5 bits and the bucket space is a CONSTANT
    // 7 × 2^8.5 — candidate mass grows N²/2^8.5 regardless of corpus,
    // and widening the fingerprint doesn't escape (at a fixed RELATIVE
    // hamming bar, W/(h+1) is invariant). So the production
    // composition is Lee et al. 2022's own: banded minhash candidates
    // (linear), exact Jaccard verification of candidates only
    // (output-sensitive — q237's scored tier), components over the
    // VERIFIED pairs, min-id keepers. Same output schema as q232, so
    // the two accountings diff directly; the recall the banding trades
    // away is exactly what the eval family (q223/q224/q229) measures.
    // CurationSpec pins this query's pair set to q237's 'pos' set, so
    // the two can never drift apart.
    Q("q239_effective_tokens_banded",
      (s, d) => {
        import graft.text.Dedup
        val docs = Tables.documents(s, d)
        val losers = Dedup.connectedComponents(bandedVerifiedPairs(s, d))
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id")).withColumn("__lost", lit(1L))
        val tok = docs.select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("nt"))
        tok.join(losers, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("nt").as("n_tokens"),
            sum(when(col("__lost").isNull, 1L).otherwise(0L)).as("kept_docs"),
            sum(when(col("__lost").isNull, col("nt")).otherwise(0L))
              .as("kept_tokens"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("kept_docs"), col("kept_tokens"),
            pround(col("kept_tokens").cast("double") /
              col("n_tokens").cast("double"), 6).as("kept_ratio"))
          .orderBy("source")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |tok AS (SELECT doc_id, source,
           |    CAST(len($sqlToks) AS BIGINT) AS nt FROM documents)
           |SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(t.nt) AS BIGINT) AS n_tokens,
           |  CAST(sum(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS kept_docs,
           |  CAST(sum(CASE WHEN l.doc_id IS NULL THEN t.nt ELSE 0 END)
           |    AS BIGINT) AS kept_tokens,
           |  ${sqlRound(
             """CAST(sum(CASE WHEN l.doc_id IS NULL THEN t.nt ELSE 0 END)
                  AS DOUBLE) / CAST(sum(t.nt) AS DOUBLE)""",
             6)} AS kept_ratio
           |FROM tok t LEFT JOIN losers l ON l.doc_id = t.doc_id
           |GROUP BY t.source ORDER BY t.source""".stripMargin
      }),

    // q235's duplication-prevalence histogram on the banded-verified
    // tier — completes the symmetry: both simhash-cluster consumers
    // (accounting → q239, histogram → here) now have measured-linear
    // counterparts, and q235 carries `scaleLimited → q240`. Same
    // histogram semantics as q235 (docs per duplication level,
    // singletons as level 1, n_docs sums to the corpus); only the
    // cluster tier differs, so diffing q235 against q240 shows exactly
    // what the banding trades: clusters the simhash tier finds at
    // hamming ≤ 6 that the J ≥ 0.5 bar rejects, and vice versa.
    Q("q240_dup_prevalence_banded",
      (s, d) => {
        import graft.text.Dedup
        val comp = Dedup.connectedComponents(bandedVerifiedPairs(s, d))
        val hist = comp.groupBy("cluster").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
        val singles = Tables.documents(s, d).agg(count(lit(1)).as("tot"))
          .crossJoin(comp.agg(count(lit(1)).as("n_in")))
          .select(lit(1L).as("cluster_size"),
            (col("tot") - col("n_in")).as("n_clusters"))
          .filter(col("n_clusters") > 0)
        hist.unionByName(singles)
          .groupBy("cluster_size").agg(sum("n_clusters").as("n_clusters"))
          .select(col("cluster_size"), col("n_clusters"),
            (col("cluster_size") * col("n_clusters")).as("n_docs"))
          .orderBy("cluster_size")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM comp GROUP BY cluster),
           |h AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
           |  FROM cs GROUP BY cluster_size),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents),
           |nin AS (SELECT CAST(count(*) AS BIGINT) AS n FROM comp),
           |s1 AS (SELECT CAST(1 AS BIGINT) AS cluster_size, t - n AS n_clusters
           |  FROM tot CROSS JOIN nin WHERE t - n > 0),
           |m AS (SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
           |  FROM (SELECT * FROM h UNION ALL SELECT * FROM s1)
           |  GROUP BY cluster_size)
           |SELECT cluster_size, n_clusters,
           |  cluster_size * n_clusters AS n_docs
           |FROM m ORDER BY cluster_size""".stripMargin
      }))

  // --------------------------------------------------------------------
  // Corpus-policy operators: source-level filtering decisions and
  // document-boundary repair — the curation steps that act on WHOLE
  // sources / document seams rather than individual rows.
  // --------------------------------------------------------------------
  private val policy: Seq[Q] = Seq(
    // Source-level blocklist (the domain-filtering pattern of C4,
    // Raffel et al. 2020 §2.2, and RefinedWeb, Penedo et al. 2023 —
    // public curation practice: drop an entire origin when its
    // aggregate signal is anomalous, instead of sniping documents).
    // The signal here is the duplication rate on the banded-verified
    // tier (q239's losers): a source whose members are displaced by
    // dedup at more than 2× the corpus mean rate is a mirror/spam
    // candidate and gets blocked wholesale. The decision table IS the
    // output: per source, its size, its dup members, the 0/1 verdict,
    // and the post-filter accounting (kept_docs/kept_tokens collapse to
    // 0 for blocked sources) — so the hash check covers both the policy
    // and its application.
    //
    // Parity + overflow: rates are compared in integer PPM —
    // (dup·1e6 div n) vs (2·tot_dup·1e6 div tot) — floored identically
    // in both engines and overflow-safe to ~9e12 documents (the
    // cross-multiply form dup·tot_docs would overflow BIGINT at
    // ~3e9 docs; the round-10 hash-overflow advice generalized).
    // 100 TB shape: one corpus token scan + the banded loser tier
    // (measured linear, SCALING.md round-11 sweep) + catalog-sized
    // rollups; the verdict table is |sources| rows and the 'tot' side
    // of the final join is ONE row, broadcast.
    Q("q245_source_blocklist",
      (s, d) => {
        import graft.text.Dedup
        val losers = Dedup.connectedComponents(bandedVerifiedPairs(s, d))
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id")).withColumn("__lost", lit(1L))
        val per = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("nt"))
          .join(losers, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
            sum(when(col("__lost").isNotNull, 1L).otherwise(0L))
              .as("dup_members"))
        val tot = per.agg(sum("n_docs").as("tot_docs"),
          sum("dup_members").as("tot_dup"))
        per.crossJoin(broadcast(tot))
          .withColumn("blocked",
            when(expr("(dup_members * 1000000L) div n_docs") >
              expr("(2L * tot_dup * 1000000L) div tot_docs"), 1L)
              .otherwise(0L))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("dup_members"), col("blocked"),
            when(col("blocked") === 1L, 0L).otherwise(col("n_docs"))
              .as("kept_docs"),
            when(col("blocked") === 1L, 0L).otherwise(col("n_tokens"))
              .as("kept_tokens"))
          .orderBy("source")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |tok AS (SELECT doc_id, source,
           |    CAST(len($sqlToks) AS BIGINT) AS nt FROM documents),
           |per AS (SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(t.nt) AS BIGINT) AS n_tokens,
           |    CAST(sum(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END)
           |      AS BIGINT) AS dup_members
           |  FROM tok t LEFT JOIN losers l ON l.doc_id = t.doc_id
           |  GROUP BY t.source),
           |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
           |    CAST(sum(dup_members) AS BIGINT) AS tot_dup FROM per),
           |v AS (SELECT per.*, CAST(CASE WHEN
           |      (dup_members * 1000000) // n_docs >
           |      (2 * tot_dup * 1000000) // tot_docs
           |    THEN 1 ELSE 0 END AS BIGINT) AS blocked
           |  FROM per CROSS JOIN tot)
           |SELECT source, n_docs, n_tokens, dup_members, blocked,
           |  CAST(CASE WHEN blocked = 1 THEN 0 ELSE n_docs END AS BIGINT)
           |    AS kept_docs,
           |  CAST(CASE WHEN blocked = 1 THEN 0 ELSE n_tokens END AS BIGINT)
           |    AS kept_tokens
           |FROM v ORDER BY source""".stripMargin
      }),

    // Document-boundary stitch candidates: a doc whose last-3-token
    // boundary exactly equals another doc's first-3-token boundary is a
    // split-document seam candidate (crawl/shard processing cuts long
    // pages into fragments; re-stitching needs exactly this
    // suffix→prefix join). Per LEFT fragment the query emits its best
    // continuation (min doc_id — deterministic) plus the candidate
    // count, so output is ≤ one row per document BY CONSTRUCTION.
    //
    // 100 TB shape: two fixed-size boundary keys per doc (map work), a
    // df ≤ 64 prune on the prefix side (q227's pigeonhole cap — hot
    // boilerplate boundaries like headers are exactly the keys that
    // mean nothing for stitching), then one equi-join whose fan-out is
    // structurally ≤ 64 per doc and a per-doc min/count partial agg.
    // No stage is ever super-linear in the corpus.
    Q("q246_boundary_stitch",
      (s, d) => {
        val b = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .filter(size(col("w")) >= 6)
          .select(col("doc_id"),
            concat_ws(" ", slice(col("w"), 1, 3)).as("pre"),
            concat_ws(" ", slice(col("w"), -3, 3)).as("suf"))
        val keep = b.groupBy("pre").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= 64).select("pre")
        val heads = b.join(keep, "pre")
          .select(col("doc_id").as("cand_id"), col("pre"))
        b.select(col("doc_id"), col("suf"))
          .join(heads,
            col("suf") === col("pre") && col("doc_id") =!= col("cand_id"))
          .groupBy(col("doc_id"), col("suf"))
          .agg(min(col("cand_id")).as("cont_id"),
            count(lit(1)).as("n_cand"))
          .select(col("doc_id"), col("suf").as("boundary"),
            col("cont_id"), col("n_cand"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
             |b AS (SELECT doc_id, array_to_string(w[1:3], ' ') AS pre,
             |    array_to_string(w[-3:], ' ') AS suf
             |  FROM t WHERE len(w) >= 6),
             |keep AS (SELECT pre FROM (
             |    SELECT pre, count(*) AS df FROM b GROUP BY pre)
             |  WHERE df <= 64),
             |h AS (SELECT b.doc_id AS cand_id, b.pre
             |  FROM b JOIN keep USING (pre))
             |SELECT a.doc_id, a.suf AS boundary,
             |  CAST(min(h.cand_id) AS BIGINT) AS cont_id,
             |  CAST(count(*) AS BIGINT) AS n_cand
             |FROM b a JOIN h ON a.suf = h.pre AND a.doc_id <> h.cand_id
             |GROUP BY a.doc_id, a.suf ORDER BY a.doc_id""".stripMargin)),

    // Intra-document repetition signals — the Gopher/MassiveText
    // repetition filters (Rae et al. 2021, arXiv:2112.11446 Table A1),
    // token-count adapted (the paper weights by characters; our corpus
    // has uniform word lengths so token counts carry the same signal,
    // and integer token counts cross the engine boundary exactly):
    // per doc, the modal-2-gram share of all 2-grams and the duplicate
    // share of all 3-grams, plus the 0/1 filter verdict at the paper's
    // bar shape (top-2-gram > 20% OR dup-3-grams > 30%) compared by
    // integer cross-multiply (5·top2 > n2; 10·dup3 > 3·n3) — no float
    // in the decision.
    //
    // 100 TB shape: gram counting shuffles on (doc_id, gram) with full
    // map-side partial aggregation, then collapses to one row per doc —
    // never wider than the corpus itself; no joins beyond the final
    // doc-keyed merges of the two gram sizes. Per-doc cost is linear in
    // document length (explode, not the O(L²) per-row HOF form).
    Q("q247_repetition_signals",
      (s, d) => {
        val base = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
            col("w"))
        def gramStats(n: Int, top: Boolean): DataFrame = {
          val grams = base
            .filter(size(col("w")) >= n)
            .select(col("doc_id"), explode(transform(
              sequence(lit(1), size(col("w")) - (n - 1)),
              i => concat_ws(" ",
                (0 until n).map(k => element_at(col("w"), i + k)): _*)))
              .as("g"))
            .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          if (top)
            grams.groupBy("doc_id").agg(max("c").as("top2_cnt"),
              sum("c").as("n2"))
          else
            grams.groupBy("doc_id").agg(
              (sum("c") - count(lit(1))).as("dup3_cnt"), sum("c").as("n3"))
        }
        base.select("doc_id", "n_tokens")
          .join(gramStats(2, top = true), Seq("doc_id"), "left")
          .join(gramStats(3, top = false), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"),
            coalesce(col("top2_cnt"), lit(0L)).as("top2_cnt"),
            coalesce(col("n2"), lit(0L)).as("n2"),
            coalesce(col("dup3_cnt"), lit(0L)).as("dup3_cnt"),
            coalesce(col("n3"), lit(0L)).as("n3"))
          .withColumn("flagged",
            when(col("top2_cnt") * 5L > col("n2") ||
              col("dup3_cnt") * 10L > col("n3") * 3L, 1L).otherwise(0L))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, $sqlToks AS w FROM documents),
             |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens, w
             |  FROM t),
             |g2 AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(1, CAST(len(w) AS INT) - 1),
             |    i -> w[i] || ' ' || w[i + 1])) AS g
             |  FROM base WHERE len(w) >= 2),
             |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
             |a2 AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top2_cnt,
             |    CAST(sum(c) AS BIGINT) AS n2 FROM c2 GROUP BY doc_id),
             |g3 AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(1, CAST(len(w) AS INT) - 2),
             |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
             |  FROM base WHERE len(w) >= 3),
             |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
             |a3 AS (SELECT doc_id,
             |    CAST(sum(c) - count(*) AS BIGINT) AS dup3_cnt,
             |    CAST(sum(c) AS BIGINT) AS n3 FROM c3 GROUP BY doc_id)
             |SELECT b.doc_id, b.n_tokens,
             |  coalesce(a2.top2_cnt, 0) AS top2_cnt,
             |  coalesce(a2.n2, 0) AS n2,
             |  coalesce(a3.dup3_cnt, 0) AS dup3_cnt,
             |  coalesce(a3.n3, 0) AS n3,
             |  CAST(CASE WHEN coalesce(a2.top2_cnt, 0) * 5 > coalesce(a2.n2, 0)
             |      OR coalesce(a3.dup3_cnt, 0) * 10 > coalesce(a3.n3, 0) * 3
             |    THEN 1 ELSE 0 END AS BIGINT) AS flagged
             |FROM base b LEFT JOIN a2 ON b.doc_id = a2.doc_id
             |LEFT JOIN a3 ON b.doc_id = a3.doc_id
             |ORDER BY b.doc_id""".stripMargin)),

    // Incremental-ingest dedup — the DELTA shape every production corpus
    // actually runs: a new batch (25% of docs by the q226 split hash)
    // arrives against an existing deduped corpus (the other 75%), and
    // each batch doc gets a verdict: 'dup_vs_corpus' (verified near-dup
    // of an existing doc → reject, match_id = min such corpus doc),
    // 'dup_in_batch' (no corpus match, but a verified match to a
    // SMALLER-id batch doc that itself survived vs the corpus → reject,
    // keep-first-seen), or 'accept'. The in-batch rule is deliberately
    // single-hop (a doc whose only match was itself rejected vs the
    // corpus is accepted as the surviving representative) — the
    // standard min-id-keeper applied to the batch stream, no recursion.
    //
    // 100 TB shape: in production the corpus side's band table IS the
    // persisted dedup state (computed once at corpus build, mergeable),
    // so the incremental cost is batch-only signatures + band equi-joins
    // driven by the batch side + exact verify of candidates only. Here
    // both sides derive from the one harness table via the shared
    // banded-verified tier (measured linear, round-11 100× sweep);
    // the verdict classification adds only catalog-of-pairs-sized
    // aggregations on top.
    Q("q248_incremental_dedup",
      (s, d) => {
        val bucket = floor(Hashing.hash32(col("doc_id")) / lit(42949672.96))
        val sides = Tables.documents(s, d)
          .select(col("doc_id"), (bucket < 25).cast("int").as("is_batch"))
        val verified = bandedVerifiedPairs(s, d)
        val edges = verified.select(col("id_a").as("x"), col("id_b").as("p"))
          .unionByName(verified.select(col("id_b").as("x"), col("id_a").as("p")))
        val withSides = edges
          .join(sides.select(col("doc_id").as("x"), col("is_batch").as("xb")), "x")
          .join(sides.select(col("doc_id").as("p"), col("is_batch").as("pb")), "p")
        val vsCorpus = withSides.filter(col("xb") === 1 && col("pb") === 0)
          .groupBy("x").agg(min("p").as("corpus_match"))
        val inBatch = withSides
          .filter(col("xb") === 1 && col("pb") === 1 && col("p") < col("x"))
          .join(vsCorpus.select(col("x").as("p"), lit(1).as("__pd")),
            Seq("p"), "left")
          .filter(col("__pd").isNull)
          .groupBy("x").agg(min("p").as("batch_match"))
        sides.filter(col("is_batch") === 1).select("doc_id")
          .join(vsCorpus.withColumnRenamed("x", "doc_id"), Seq("doc_id"), "left")
          .join(inBatch.withColumnRenamed("x", "doc_id"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("corpus_match").isNotNull, "dup_vs_corpus")
              .when(col("batch_match").isNotNull, "dup_in_batch")
              .otherwise("accept").as("verdict"),
            coalesce(col("corpus_match"), col("batch_match"), lit(-1L))
              .as("match_id"))
          .orderBy("doc_id")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |sides AS (SELECT doc_id,
           |    CASE WHEN floor(${Hashing.sqlHash32("doc_id")}
           |      / 42949672.96) < 25 THEN 1 ELSE 0 END AS is_batch
           |  FROM documents),
           |e AS (SELECT id_a AS x, id_b AS p2 FROM p
           |  UNION ALL SELECT id_b AS x, id_a AS p2 FROM p),
           |es AS (SELECT e.x, e.p2, sx.is_batch AS xb, sp.is_batch AS pb
           |  FROM e JOIN sides sx ON e.x = sx.doc_id
           |    JOIN sides sp ON e.p2 = sp.doc_id),
           |vc AS (SELECT x, CAST(min(p2) AS BIGINT) AS corpus_match
           |  FROM es WHERE xb = 1 AND pb = 0 GROUP BY x),
           |be AS (SELECT es.x, CAST(min(es.p2) AS BIGINT) AS batch_match
           |  FROM es LEFT JOIN vc pv ON es.p2 = pv.x
           |  WHERE es.xb = 1 AND es.pb = 1 AND es.p2 < es.x AND pv.x IS NULL
           |  GROUP BY es.x)
           |SELECT s2.doc_id,
           |  CASE WHEN vc.corpus_match IS NOT NULL THEN 'dup_vs_corpus'
           |    WHEN be.batch_match IS NOT NULL THEN 'dup_in_batch'
           |    ELSE 'accept' END AS verdict,
           |  CAST(coalesce(vc.corpus_match, be.batch_match, -1) AS BIGINT)
           |    AS match_id
           |FROM sides s2 LEFT JOIN vc ON s2.doc_id = vc.x
           |LEFT JOIN be ON s2.doc_id = be.x
           |WHERE s2.is_batch = 1 ORDER BY s2.doc_id""".stripMargin
      }),

    // Robust per-source length-outlier audit — median/MAD (the
    // classical robust z-score, Iglewicz & Hoaglin 1993), the standard
    // guard against truncated/concatenated documents that mean/stddev
    // misses because outliers poison both. A doc is an outlier when
    // |len − median| > 3 × MAD.
    //
    // Exactness + parity: medians are computed by RANK, not by an
    // interpolating quantile function — per source, the lower/upper
    // middle elements are picked by row_number and SUMMED, so
    // med_x2 = 2·median and mad_x4 = 4·MAD are exact BIGINTs in both
    // engines and the outlier test is the integer inequality
    // 2·|2·len − med_x2| > 3·mad_x4. No float anywhere.
    //
    // 100 TB shape: Spark's percentile() buffers every group member in
    // the aggregation state — a per-source corpus slice in executor
    // memory. The rank form instead runs two window sorts partitioned
    // by source (spill-safe, distributed) + catalog-sized joins; at
    // extreme skew the same statistic can come from partial histograms,
    // but the registered semantics stay exact-rank.
    Q("q249_length_outliers",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("source"),
          col("doc_id"), col("n_chars").cast("long").as("len"))
        val n = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        // Middle ranks via INTEGER division (Spark's `/` on longs is
        // double division: (250+1)/2 = 125.5 would match no rank and
        // silently drop the lower middle at even counts).
        val loRank = expr("(n_docs + 1) div 2")
        val hiRank = expr("(n_docs + 2) div 2")
        val w1 = Window.partitionBy("source").orderBy(col("len").asc,
          col("doc_id").asc)
        val m2 = docs.withColumn("__rn", row_number().over(w1))
          .join(broadcast(n), "source")
          .filter(col("__rn") === loRank || col("__rn") === hiRank)
          .groupBy("source")
          .agg((sum("len") * lit(2L) / count(lit(1))).cast("long")
            .as("med_x2"))
        val dev = docs.join(broadcast(m2), "source")
          .withColumn("d2", abs(col("len") * 2L - col("med_x2")))
        val w2 = Window.partitionBy("source").orderBy(col("d2").asc,
          col("doc_id").asc)
        val mad4 = dev.withColumn("__rn", row_number().over(w2))
          .join(broadcast(n), "source")
          .filter(col("__rn") === loRank || col("__rn") === hiRank)
          .groupBy("source")
          .agg((sum("d2") * lit(2L) / count(lit(1))).cast("long")
            .as("mad_x4"))
        dev.join(broadcast(mad4), "source")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), min("med_x2").as("med_x2"),
            min("mad_x4").as("mad_x4"),
            sum(when(col("d2") * 2L > col("mad_x4") * 3L, 1L)
              .otherwise(0L)).as("n_outliers"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, doc_id,
             |    CAST(n_chars AS BIGINT) AS len FROM documents),
             |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
             |  FROM d GROUP BY source),
             |r1 AS (SELECT source, doc_id, len, row_number() OVER (
             |    PARTITION BY source ORDER BY len, doc_id) AS rn FROM d),
             |m2 AS (SELECT r1.source,
             |    CAST(sum(len) * 2 / count(*) AS BIGINT) AS med_x2
             |  FROM r1 JOIN n ON r1.source = n.source
             |  WHERE rn = (n_docs + 1) // 2 OR rn = (n_docs + 2) // 2
             |  GROUP BY r1.source),
             |dev AS (SELECT d.source, d.doc_id,
             |    abs(d.len * 2 - m2.med_x2) AS d2
             |  FROM d JOIN m2 ON d.source = m2.source),
             |r2 AS (SELECT source, doc_id, d2, row_number() OVER (
             |    PARTITION BY source ORDER BY d2, doc_id) AS rn FROM dev),
             |mad4 AS (SELECT r2.source,
             |    CAST(sum(d2) * 2 / count(*) AS BIGINT) AS mad_x4
             |  FROM r2 JOIN n ON r2.source = n.source
             |  WHERE rn = (n_docs + 1) // 2 OR rn = (n_docs + 2) // 2
             |  GROUP BY r2.source)
             |SELECT dev.source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(min(m2.med_x2) AS BIGINT) AS med_x2,
             |  CAST(min(mad4.mad_x4) AS BIGINT) AS mad_x4,
             |  CAST(sum(CASE WHEN dev.d2 * 2 > mad4.mad_x4 * 3
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM dev JOIN m2 ON dev.source = m2.source
             |JOIN mad4 ON dev.source = mad4.source
             |GROUP BY dev.source ORDER BY dev.source""".stripMargin)),

    // What the in-flight rule costs: q251's streaming suppressor drops
    // any doc with a banded smaller partner (candidates, UNVERIFIED —
    // it cannot afford the exact-Jaccard verify in-flight), while the
    // offline tier (q239) only displaces docs whose VERIFIED cluster
    // has a smaller member. This eval cross-tabulates the two verdicts
    // per doc: `stream_only_drop` counts the FALSE suppressions (the
    // price of in-flight dedup — docs the offline tier would keep),
    // `verified_only_drop` the path-only losers the band-min rule
    // misses. The catalog-sized verdict table is the number a
    // production team reads before enabling in-flight suppression.
    // 100 TB shape: both tiers are the measured-linear banded machinery
    // plus two doc-keyed left joins and a 4-row aggregation.
    Q("q252_inflight_dedup_eval",
      (s, d) => {
        import graft.text.Dedup
        val docs = Tables.documents(s, d).select(col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("nt"))
        // One banded build feeds BOTH verdicts (the q207 persist
        // pattern): the candidate frame IS the stream tier's drop
        // evidence, and its J ≥ 0.5 filter IS the verified pair set —
        // recomputing the tier per consumer would double the only
        // corpus-scale stage in the plan.
        val co = Cached.persist(bandedCandidateOverlap(s, d))
        val streamDrop = co.select(col("id_b").as("doc_id")).distinct()
          .withColumn("__sd", lit(1))
        val verified = co.filter(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double") >= 0.5)
          .select("id_a", "id_b")
        val losers = Dedup.connectedComponents(verified)
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id")).withColumn("__vd", lit(1))
        docs.join(streamDrop, Seq("doc_id"), "left")
          .join(losers, Seq("doc_id"), "left")
          .select(
            when(col("__sd").isNull && col("__vd").isNull, "both_keep")
              .when(col("__sd").isNotNull && col("__vd").isNull,
                "stream_only_drop")
              .when(col("__sd").isNull && col("__vd").isNotNull,
                "verified_only_drop")
              .otherwise("both_drop").as("class"),
            col("nt"))
          .groupBy("class")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
          .orderBy("class")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |tok AS (SELECT doc_id,
           |    CAST(len($sqlToks) AS BIGINT) AS nt FROM documents),
           |sd AS (SELECT DISTINCT id_b AS doc_id FROM cand),
           |cl AS (SELECT t.doc_id, t.nt,
           |    CASE WHEN s.doc_id IS NULL AND l.doc_id IS NULL
           |      THEN 'both_keep'
           |    WHEN s.doc_id IS NOT NULL AND l.doc_id IS NULL
           |      THEN 'stream_only_drop'
           |    WHEN s.doc_id IS NULL AND l.doc_id IS NOT NULL
           |      THEN 'verified_only_drop'
           |    ELSE 'both_drop' END AS class
           |  FROM tok t LEFT JOIN sd s ON t.doc_id = s.doc_id
           |  LEFT JOIN losers l ON t.doc_id = l.doc_id)
           |SELECT class, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(nt) AS BIGINT) AS n_tokens
           |FROM cl GROUP BY class ORDER BY class""".stripMargin
      }),

    // Dup-pair locality across q234's snake shards — the question that
    // decides whether SHARD-LOCAL dedup (each worker dedups only its
    // own shard, zero cross-shard traffic) is an acceptable
    // approximation at 100 TB: every verified near-dup pair is labeled
    // `within` (both members on one shard — shard-local dedup catches
    // it) or `across` (it escapes). Snake sharding balances token mass,
    // not content, so the expected within share is ~1/numShards — the
    // measured number IS the eval. Catalog-sized output; both tiers
    // measured linear.
    Q("q253_shard_dedup_locality",
      (s, d) => {
        val shards = graft.text.Packing.snakeShards(
            Tables.documents(s, d), "doc_id",
            TextOps.tokenCount(col("text")), numShards = 16)
          .select("doc_id", "shard")
        bandedVerifiedPairs(s, d)
          .join(shards.select(col("doc_id").as("id_a"),
            col("shard").as("sh_a")), "id_a")
          .join(shards.select(col("doc_id").as("id_b"),
            col("shard").as("sh_b")), "id_b")
          .select(when(col("sh_a") === col("sh_b"), "within")
            .otherwise("across").as("locality"))
          .groupBy("locality").agg(count(lit(1)).as("n_pairs"))
          .orderBy("locality")
      },
      oracle = None,
      oracleDyn = Some { () =>
        val q234 = Queries.all.find(_.name == "q234_shard_manifest")
          .get.oracle.get
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |shmap AS ($q234)
           |SELECT CASE WHEN a.shard = b.shard THEN 'within'
           |    ELSE 'across' END AS locality,
           |  CAST(count(*) AS BIGINT) AS n_pairs
           |FROM p JOIN shmap a ON p.id_a = a.doc_id
           |JOIN shmap b ON p.id_b = b.doc_id
           |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // Distribution-drift audit for the incremental-ingest story: the
    // exact two-sample Kolmogorov–Smirnov distance between the new
    // batch's length distribution and the existing corpus's (q248's
    // hash split). EXACT, not the usual float CDF subtraction: at every
    // distinct length v, D(v) = |c1(v)·n2 − c2(v)·n1| is an integer
    // (c = cumulative counts), so the statistic is max-of-integers and
    // ks = ks_num / (n1·n2) is one division of exact operands — the
    // rational-arithmetic trick that keeps both engines bit-equal.
    // Tie-break: ks_at is the SMALLEST length attaining the max.
    //
    // 100 TB shape: one corpus scan collapses to one row per DISTINCT
    // length (domain-bounded — lengths, not documents), and the CDF
    // cumsum window runs over that value domain, never the corpus.
    // Integer range: c·n overflows BIGINT past ~3e9 docs per side; at
    // that scale the audit runs on a fixed-budget hash sample (q229's
    // device) — noted here as the registered precondition.
    Q("q254_ks_drift",
      (s, d) => {
        val bucket = floor(Hashing.hash32(col("doc_id")) / lit(42949672.96))
        val tagged = Tables.documents(s, d)
          .select(col("n_chars").cast("long").as("v"),
            when(bucket < 25, 1L).otherwise(0L).as("b"))
        val per = tagged.groupBy("v")
          .agg(sum("b").as("cnt1"), sum(lit(1L) - col("b")).as("cnt2"))
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val tot = tagged.agg(sum("b").as("n1"),
          sum(lit(1L) - col("b")).as("n2"))
        val cdf = per
          .withColumn("c1", sum("cnt1").over(w))
          .withColumn("c2", sum("cnt2").over(w))
          .crossJoin(broadcast(tot))
          .withColumn("dnum", abs(col("c1") * col("n2") -
            col("c2") * col("n1")))
        val mx = cdf.agg(max("dnum").as("ks_num"))
        cdf.join(broadcast(mx), col("dnum") === col("ks_num"))
          .groupBy("n1", "n2", "ks_num")
          .agg(min("v").as("ks_at"))
          .select(col("n1").as("n_batch"), col("n2").as("n_corpus"),
            col("ks_num"), col("ks_at"),
            pround(col("ks_num").cast("double") /
              (col("n1") * col("n2")).cast("double"), 6).as("ks"))
      },
      Some(s"""WITH t AS (SELECT CAST(n_chars AS BIGINT) AS v,
             |    CASE WHEN floor(${Hashing.sqlHash32("doc_id")}
             |      / 42949672.96) < 25 THEN 1 ELSE 0 END AS b
             |  FROM documents),
             |per AS (SELECT v, CAST(sum(b) AS BIGINT) AS cnt1,
             |    CAST(sum(1 - b) AS BIGINT) AS cnt2 FROM t GROUP BY v),
             |tot AS (SELECT CAST(sum(b) AS BIGINT) AS n1,
             |    CAST(sum(1 - b) AS BIGINT) AS n2 FROM t),
             |cdf AS (SELECT v,
             |    sum(cnt1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS c1,
             |    sum(cnt2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             |      PRECEDING AND CURRENT ROW) AS c2
             |  FROM per),
             |dn AS (SELECT v, abs(c1 * n2 - c2 * n1) AS dnum
             |  FROM cdf CROSS JOIN tot),
             |mx AS (SELECT max(dnum) AS ks_num FROM dn)
             |SELECT tot.n1 AS n_batch, tot.n2 AS n_corpus,
             |  CAST(mx.ks_num AS BIGINT) AS ks_num,
             |  CAST(min(dn.v) AS BIGINT) AS ks_at,
             |  ${sqlRound(
               "CAST(mx.ks_num AS DOUBLE) / (CAST(tot.n1 AS DOUBLE) * tot.n2)",
               6)} AS ks
             |FROM dn JOIN mx ON dn.dnum = mx.ks_num
             |CROSS JOIN tot GROUP BY tot.n1, tot.n2, mx.ks_num
             |""".stripMargin)),

    // Corpus-composition audit: the lang × source contingency table
    // with each cell's χ² contribution — is language balance
    // independent of origin, or does some source skew the mix? The
    // per-cell Pearson term (O − E)²/E is computed ALL-INTEGER in
    // micro-units: with r = row total, c = col total, N = corpus,
    //   contribution·1e6 = (O·N − r·c)² · 1e6 div (N·r·c)
    // (exact integer floor, identical in both engines — the q245 PPM
    // idea applied to a test statistic). expected_milli = (r·c·1000)
    // div N ships alongside so the table reads as an audit, not just a
    // statistic. Range: (O·N − r·c)²·1e6 needs N ≲ 2e3 per... the
    // BIGINT bound is (N²)²·1e6 in the worst cell — past ~50 M docs
    // compute cells on the q229 fixed-budget sample (documented
    // precondition, like q254). 100 TB shape: one corpus scan to a
    // |langs|×|sources| grid; everything after is catalog-sized.
    Q("q255_composition_chi2",
      (s, d) => {
        val obs = Tables.documents(s, d)
          .groupBy("lang", "source").agg(count(lit(1)).as("o0"))
        val rows = obs.groupBy("lang").agg(sum("o0").as("r"))
        val cols = obs.groupBy("source").agg(sum("o0").as("c"))
        val tot = obs.agg(sum("o0").as("n"))
        // Full grid: a lang ABSENT from a source is an O = 0 cell and
        // still contributes (r·c)²·1e6/(N·r·c) — dropping zero cells
        // would understate the statistic exactly where skew is worst.
        rows.select("lang", "r").crossJoin(cols.select("source", "c"))
          .join(obs, Seq("lang", "source"), "left")
          .withColumn("o", coalesce(col("o0"), lit(0L)))
          .crossJoin(broadcast(tot))
          .select(col("lang"), col("source"), col("o"),
            expr("(r * c * 1000L) div n").as("expected_milli"),
            expr("((o * n - r * c) * (o * n - r * c) * 1000000L)" +
              " div (n * r * c)").as("chi2_micro"))
          .orderBy("lang", "source")
      },
      Some("""WITH obs AS (SELECT lang, source,
             |    CAST(count(*) AS BIGINT) AS o0
             |  FROM documents GROUP BY lang, source),
             |r AS (SELECT lang, CAST(sum(o0) AS BIGINT) AS r
             |  FROM obs GROUP BY lang),
             |c AS (SELECT source, CAST(sum(o0) AS BIGINT) AS c
             |  FROM obs GROUP BY source),
             |t AS (SELECT CAST(sum(o0) AS BIGINT) AS n FROM obs),
             |grid AS (SELECT r.lang, r.r, c.source, c.c FROM r CROSS JOIN c),
             |g AS (SELECT grid.lang, grid.source, grid.r, grid.c,
             |    coalesce(obs.o0, 0) AS o
             |  FROM grid LEFT JOIN obs
             |    ON grid.lang = obs.lang AND grid.source = obs.source)
             |SELECT g.lang, g.source, CAST(g.o AS BIGINT) AS o,
             |  CAST((g.r * g.c * 1000) // t.n AS BIGINT) AS expected_milli,
             |  CAST(((g.o * t.n - g.r * g.c) *
             |      (g.o * t.n - g.r * g.c) * 1000000)
             |    // (t.n * g.r * g.c) AS BIGINT) AS chi2_micro
             |FROM g CROSS JOIN t
             |ORDER BY g.lang, g.source""".stripMargin)))

  /** Hamming-verified near-dup pairs on the BANDED tier — the
    * measured-linear twin of the exact simhash band self-join
    * ([[graft.text.Dedup.simhashNearDupPairs]], q49): q52's minhash band
    * join proposes candidates (LINEAR at 100× — 3.79, SCALING.md
    * round-11 sweep: the band signature space grows with content, so
    * buckets stay small), then each candidate is verified with the exact
    * 60-bit fingerprint hamming bar (q49's ≤ 6). The exact band
    * self-join it replaces is structurally N²: at a fixed relative
    * hamming bar its bucket space is a CONSTANT 7 × 2^8.5, so candidate
    * mass grows N²/2^8.5 with no knob (measured: q49 ×11.2 wall for
    * ×3.33 data at the 30×→100× octave). Here the verify mass is
    * OUTPUT-sensitive (only minhash collisions are hammed), which is
    * the Lee et al. 2022 (arXiv:2107.06499) production recipe. The
    * recall traded away is pairs at hamming ≤ 6 that share no minhash
    * band — exactly what the eval family (q223/q224/q229) measures.
    * Shared by q256 (pairs), q257 (clusters), q258 (apply).
    */
  private[graft] def bandedHammingPairs(s: SparkSession, d: String): DataFrame = {
    import graft.text.Dedup
    val docs = Tables.documents(s, d)
    val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, numHashes = 12, bands = 4)
      .select("id_a", "id_b")
    val fps = Dedup.simhashAgg(docs, "doc_id",
      TextOps.wordShingles(col("text"), 3), 60)
    // Both join sides read the fingerprint frame — persist so the
    // shingle+hash kernel runs once (the q49/q107 convention).
    val fpsP = Cached.persist(fps)
    fpsP.count()
    cand
      .join(fpsP.select(col("doc_id").as("id_a"), col("simhash").as("__fa")), "id_a")
      .join(fpsP.select(col("doc_id").as("id_b"), col("simhash").as("__fb")), "id_b")
      .withColumn("hamming", Dedup.hamming(col("__fa"), col("__fb")))
      .filter(col("hamming") <= 6)
      .select("id_a", "id_b", "hamming")
  }

  /** DuckDB CTE chain mirroring [[bandedHammingPairs]]: q52's registered
    * SQL verbatim as the candidate tier (drift-proof), the 60-bit
    * simhash fingerprints, and the hamming-verified pairs `hp(id_a,
    * id_b, hamming)`. Plain WITH (no recursion).
    */
  private[graft] def bandedHammingSqlCtes: String = {
    val q52 = VectorTextQueries.all
      .find(_.name == "q52_minhash_pairs").get.oracle.get
    val fpsSub = VectorTextQueries.simhashSql(60)
    s"""hcand AS ($q52),
       |hfps AS ($fpsSub),
       |hp AS (SELECT c.id_a, c.id_b,
       |    CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM hcand c JOIN hfps a ON a.doc_id = c.id_a
       |    JOIN hfps b ON b.doc_id = c.id_b
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6)""".stripMargin
  }

  /** [[bandedHammingSqlCtes]] plus connected components over the verified
    * pairs (min-reachable-id labels) and the min-id `hlosers`. Must be
    * opened with `WITH RECURSIVE`. CTE names are h-prefixed so the chain
    * composes alongside [[bandedVerifiedSqlCtes]] without collisions.
    */
  private[graft] def bandedHammingClusterSqlCtes: String =
    s"""$bandedHammingSqlCtes,
       |he0 AS (SELECT id_a AS src, id_b AS dst FROM hp
       |  UNION ALL SELECT id_b AS src, id_a AS dst FROM hp),
       |hreach AS (
       |  SELECT src, dst FROM he0
       |  UNION
       |  SELECT r.src, e.dst FROM hreach r JOIN he0 e ON r.dst = e.src),
       |hcomp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
       |  FROM hreach GROUP BY src),
       |hlosers AS (SELECT doc_id FROM hcomp WHERE cluster <> doc_id)""".stripMargin

  // --------------------------------------------------------------------
  // Banded twins of the exact-simhash family (round-12): the exact band
  // self-join behind q49/q107/q125 is measured N² at 100× (SCALING.md),
  // so each consumer gets a registered, oracle-checked twin on the
  // measured-linear minhash-candidate tier — same output schema, same
  // downstream contract, linear proposer. q42's PPJoin gets the same
  // treatment via the Jaccard-verified tier it shares with q239/q240.
  // --------------------------------------------------------------------
  private val bandedTwins: Seq[Q] = Seq(
    // q49's twin: near-dup PAIRS at hamming ≤ 6, proposed by the minhash
    // band join instead of the N² exact band self-join. Output schema
    // identical to q49 (id_a, id_b, hamming), so the two tiers diff
    // directly; BandedTierSpec pins q256 ⊆ q49 pair-for-pair.
    Q("q256_simhash_banded",
      (s, d) => bandedHammingPairs(s, d).orderBy("id_a", "id_b"),
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH $bandedHammingSqlCtes
           |SELECT id_a, id_b, hamming FROM hp
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // q107's twin: connected components + keeper flags over the
    // hamming-verified banded pairs — the cluster resolution step on the
    // linear tier. Same output schema as q107.
    Q("q257_dedup_clusters_banded",
      (s, d) => {
        import graft.text.Dedup
        Dedup.connectedComponents(
          bandedHammingPairs(s, d).select("id_a", "id_b"))
          .select(col("id").as("doc_id"), col("cluster"),
            (col("id") === col("cluster")).as("is_keeper"))
          .orderBy("doc_id")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedHammingClusterSqlCtes
           |SELECT doc_id, cluster, cluster = doc_id AS is_keeper
           |FROM hcomp ORDER BY doc_id""".stripMargin
      }),

    // q125's twin: the APPLY step (surviving corpus — every unclustered
    // doc plus each cluster's min-id keeper) over the hamming-verified
    // banded tier. Same output schema as q125.
    Q("q258_dedup_apply_banded",
      (s, d) => {
        import graft.text.Dedup
        val docs = Tables.documents(s, d)
        val losers = Dedup.connectedComponents(
          bandedHammingPairs(s, d).select("id_a", "id_b"))
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        docs.join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy("doc_id")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedHammingClusterSqlCtes
           |SELECT d.doc_id, d.lang, d.source FROM documents d
           |WHERE d.doc_id NOT IN (SELECT doc_id FROM hlosers)
           |ORDER BY d.doc_id""".stripMargin
      }),

    // q42's twin: exact n-gram Jaccard pairs (J ≥ 0.5, same schema as
    // q42 incl. the jaccard value) with the minhash band join as the
    // candidate proposer instead of PPJoin's prefix index. q42's 100×
    // wall is measured LINEAR in its verify mass (SCALING.md round 11:
    // candidates 117.5× for 100× data — output-sensitive, not a bend),
    // but the banded proposer reaches the same J ≥ 0.5 verify with a
    // candidate set bounded by band collisions, which is the registered
    // 100 TB composition (shared verbatim with q239/q240 via
    // [[bandedCandidateOverlap]]).
    Q("q259_jaccard_pairs_banded",
      (s, d) =>
        bandedCandidateOverlap(s, d)
          .withColumn("jaccard", col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
          .filter(col("jaccard") >= 0.5)
          .select(col("id_a"), col("id_b"),
            graft.Rounding.pround(col("jaccard"), 6).as("jaccard"))
          .orderBy("id_a", "id_b"),
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH $bandedCandidateSqlCtes
           |SELECT i.id_a, i.id_b,
           |  ${sqlRound("CAST(i.ni AS DOUBLE) / (x.n + y.n - i.ni)", 6)} AS jaccard
           |FROM inter i
           |  JOIN sz x ON i.id_a = x.doc_id JOIN sz y ON i.id_b = y.doc_id
           |WHERE CAST(i.ni AS DOUBLE) / (x.n + y.n - i.ni) >= 0.5
           |ORDER BY i.id_a, i.id_b""".stripMargin
      }),

    // Phrase-BPE at a REAL tokenizer merge count: ≥1024 merges learned
    // over the document word-sequence universe (the word-type universe's
    // closure is 89 — q230's documented cap — so "real vocab size" needs
    // the phrase level). Rounds are ADAPTIVE: the loop stops at the
    // 1024-merge target (reached in 45/46/64 rounds at sf0.001/0.01/0.1
    // — per-round acceptance is matching-bounded by the current
    // vocabulary and GROWS as merges mint new symbols, which is the
    // "batching must grow with vocab" requirement measured rather than
    // asserted). The oracle is ONE recursive CTE mirroring the full
    // trajectory — counts, level structure, batch order, the adaptive
    // stop — so the hash check covers all ≥1024 learned merges. 100 TB
    // shape: per round ONE pair aggregation over the (enc, freq) state +
    // a ≤W-row pool collect; wall is round-bound, not merge-bound
    // (q221's sequential floor would pay ~0.1 s × 1024 of scheduling).
    // MEASURED round budget (SCALING.md "q260 — phrase-BPE at ≥1k
    // merges", round-14 RDD loop, sf0.1): pool jobs dominate the wall
    // (acceptance 0.1 s TOTAL — O(|pool|) one-pass dominance — and the
    // lazy apply folds into the next pool job), with per-round cost
    // growing 0.26 → 0.50 s across the 64 rounds as merges diversify the
    // pair-type space; task count and Catalyst re-planning both measured
    // as NON-floors (PLANS.md round 14). The registered wall (25.9 s warm, bench-identical) IS
    // rounds × pair-aggregation-job cost, the documented semantics of a
    // trainer whose every round depends on the previous one's state.
    Q("q260_bpe_phrase_1k",
      (s, d) => {
        import s.implicits._
        phraseBpeMerges(s, d)
          .toDF("round", "bk", "lhs", "rhs", "cnt")
          .orderBy("round", "bk")
      },
      Some(phraseBpeSql)),

    // The "release a training corpus" macro-query — the full banded
    // stack as ONE registered composition (the LLM-pipeline analog of
    // q117's OHLCV end-to-end): banded-verified dedup (q239's loser
    // rule, verbatim via [[bandedVerifiedPairs]]) → q226's
    // multiplicative-hash split assignment → q228's cross-split leakage
    // audit restricted to SURVIVORS (post-dedup, the verified tier
    // between survivors is empty BY CONSTRUCTION — same-cluster docs
    // never co-survive — so the audit runs on the UNVERIFIED minhash
    // candidate tier, which is exactly the near-miss mass a release
    // worries about) → per-(source, split) accounting in q232's schema
    // plus the endpoint-attributed leak count. Every stage nests the
    // SQL of the query it composes (cand/losers come from the
    // banded-verified CTE chain, the split expression is q226's), so
    // the data card can never drift from the operators it summarizes;
    // the ingest-side precursor for a GROWING corpus is q248's
    // batch-vs-state rule. 100 TB shape: the banded loser tier
    // (measured linear, SCALING.md), one token scan, one candidate
    // equi-join against the catalog-sized survivor split map, then
    // (source × split)-sized rollups.
    Q("q261_release_manifest",
      (s, d) => {
        import graft.text.Dedup
        val docs = Tables.documents(s, d)
        val losers = Dedup.connectedComponents(bandedVerifiedPairs(s, d))
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id")).withColumn("__lost", lit(1L))
        val base = docs.select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("nt"))
          .join(losers, Seq("doc_id"), "left")
          .withColumn("split", splitOf(col("doc_id")))
        val surv = base.filter(col("__lost").isNull).select("doc_id", "split")
        val cand = Dedup.minhashLshPairs(docs, "doc_id", "text",
          shingleN = 3, numHashes = 12, bands = 4)
        val leak = cand
          .join(surv.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
          .join(surv.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
          .filter(col("sa") =!= col("sb"))
        val leakEnd = leak.select(col("id_a").as("doc_id"))
          .union(leak.select(col("id_b").as("doc_id")))
          .groupBy("doc_id").agg(count(lit(1)).as("lp"))
        base.join(leakEnd, Seq("doc_id"), "left")
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum("nt").as("n_tokens"),
            sum(when(col("__lost").isNull, 1L).otherwise(0L)).as("kept_docs"),
            sum(when(col("__lost").isNull, col("nt")).otherwise(0L))
              .as("kept_tokens"),
            sum(coalesce(col("lp"), lit(0L))).as("leak_pairs"))
          .orderBy("source", "split")
      },
      oracle = None,
      oracleDyn = Some { () =>
        def splitSql(c: String) = sqlSplitOf(c)
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |base AS (SELECT d.doc_id, d.source,
           |    CAST(len($sqlToks) AS BIGINT) AS nt,
           |    CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END AS lost,
           |    ${splitSql("d.doc_id")} AS split
           |  FROM documents d LEFT JOIN losers l ON l.doc_id = d.doc_id),
           |surv AS (SELECT doc_id, split FROM base WHERE lost = 0),
           |leak AS (SELECT c.id_a, c.id_b FROM cand c
           |  JOIN surv a ON a.doc_id = c.id_a
           |  JOIN surv b ON b.doc_id = c.id_b
           |  WHERE a.split <> b.split),
           |le AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS lp FROM (
           |    SELECT id_a AS doc_id FROM leak
           |    UNION ALL SELECT id_b AS doc_id FROM leak)
           |  GROUP BY doc_id)
           |SELECT b.source, b.split, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(b.nt) AS BIGINT) AS n_tokens,
           |  CAST(sum(1 - b.lost) AS BIGINT) AS kept_docs,
           |  CAST(sum(CASE WHEN b.lost = 0 THEN b.nt ELSE 0 END) AS BIGINT)
           |    AS kept_tokens,
           |  CAST(sum(coalesce(le.lp, 0)) AS BIGINT) AS leak_pairs
           |FROM base b LEFT JOIN le ON le.doc_id = b.doc_id
           |GROUP BY b.source, b.split ORDER BY b.source, b.split""".stripMargin
      }))

  // ------------------------------------------------------------------
  // q270: quality-ranked cluster representatives — the OTHER production
  // dedup policy. q125/q258 keep each near-dup cluster's FIRST member
  // (min doc_id, the ingest-order rule); real curation pipelines often
  // keep the BEST member instead (highest quality score, e.g. the
  // CCNet/RefinedWeb keep rule). This query scores every clustered doc
  // with the q215 NB quality model over the measured-linear banded-
  // verified cluster tier, elects argmax-(score, min-id) per cluster,
  // and reports per cluster how the two policies differ (kept_first)
  // and how much quality the keep-first rule leaves behind
  // (quality_gain, exact integer score delta re-scaled). Scores stay
  // quantized BIGINTs through the argmax so the election is
  // engine-exact. 100 TB: rides the banded pair tier + components
  // (both measured linear) and q215's aggregation shape; the election
  // is one window over cluster-sized groups. Oracle = the two
  // registered CTE chains nested verbatim (comp from the banded chain,
  // ds from the NB chain) — the drift-proof composition pattern.
  // ------------------------------------------------------------------
  /** DuckDB keep-best election over the banded-verified cluster tier
    * (q270's rule, factored so q293's cross-modal manifest nests the
    * SAME text): clustered members with NB scores `kbm`, per-cluster
    * argmax-(score, min-id) winners `kbb`, and the docs the election
    * REMOVES `tlosers` (clustered, not elected). Requires
    * [[bandedVerifiedSqlCtes]] + [[nbScoreSqlCtes]] in scope.
    */
  private[graft] val keepBestSqlCtes: String =
    """kbm AS MATERIALIZED (SELECT c.doc_id AS id, c.cluster, ds.score_q
      |  FROM comp c JOIN ds ON ds.doc_id = c.doc_id),
      |kbb AS (SELECT cluster, id AS best_doc, score_q AS best_q FROM
      |  (SELECT *, row_number() OVER (PARTITION BY cluster
      |      ORDER BY score_q DESC, id ASC) AS rn FROM kbm) WHERE rn = 1),
      |tlosers AS (SELECT m.id AS doc_id FROM kbm m
      |  JOIN kbb b ON b.cluster = m.cluster WHERE m.id <> b.best_doc)""".stripMargin

  /** Spark keep-best losers: clustered docs the q270 election does NOT
    * elect — each banded-verified cluster keeps its argmax-(NB score,
    * min id) member; everyone else is removed by the text tier.
    */
  private[graft] def keepBestLosers(s: SparkSession, d: String): DataFrame = {
    import graft.text.Dedup
    val comp = Dedup.connectedComponents(bandedVerifiedPairs(s, d))
    val m = comp.join(
      nbDocScores(s, d).select(col("doc_id").as("id"), col("score_q")), "id")
    val w = Window.partitionBy("cluster")
      .orderBy(col("score_q").desc, col("id").asc)
    m.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("id").as("doc_id"))
  }

  private val keepBest: Seq[Q] = Seq(
    Q("q270_dedup_keep_best",
      (s, d) => {
        import graft.text.Dedup
        val comp = Dedup.connectedComponents(bandedVerifiedPairs(s, d))
        val m = comp.join(
          nbDocScores(s, d).select(col("doc_id").as("id"), col("score_q")), "id")
        val w = Window.partitionBy("cluster")
          .orderBy(col("score_q").desc, col("id").asc)
        val best = m.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .select(col("cluster"), col("id").as("best_doc"),
            col("score_q").as("best_q"))
        val firstS = m.filter(col("id") === col("cluster"))
          .select(col("cluster"), col("score_q").as("first_q"))
        val sizes = m.groupBy("cluster").agg(count(lit(1)).as("n_members"))
        sizes.join(best, "cluster").join(firstS, "cluster")
          .select(col("cluster"), col("n_members"), col("best_doc"),
            pround(col("best_q").cast("double") / 1e9, 6).as("best_score"),
            (col("best_doc") === col("cluster")).cast("long").as("kept_first"),
            pround((col("best_q") - col("first_q")).cast("double") / 1e9, 6)
              .as("quality_gain"))
          .orderBy("cluster")
      },
      oracle = None,
      oracleDyn = Some { () =>
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |$nbScoreSqlCtes,
           |$keepBestSqlCtes,
           |kbf AS (SELECT cluster, score_q AS first_q FROM kbm
           |  WHERE id = cluster),
           |kbs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_members
           |  FROM kbm GROUP BY 1)
           |SELECT s.cluster, s.n_members, b.best_doc,
           |  ${sqlRound("CAST(b.best_q AS DOUBLE) / 1e9", 6)} AS best_score,
           |  CAST(b.best_doc = s.cluster AS BIGINT) AS kept_first,
           |  ${sqlRound("CAST(b.best_q - f.first_q AS DOUBLE) / 1e9", 6)}
           |    AS quality_gain
           |FROM kbs s JOIN kbb b ON b.cluster = s.cluster
           |JOIN kbf f ON f.cluster = s.cluster
           |ORDER BY s.cluster""".stripMargin
      }))

  // ------------------------------------------------------------------
  // q273: the dedup-impact experiment — held-out (val-split) bigram
  // cross-entropy under a model trained on (a) the FULL train split vs
  // (b) the keep-first-deduped train split (banded-verified tier), in
  // one output. This is the measurement behind "Deduplicating Training
  // Data Makes Language Models Better" (Lee et al. 2022) re-expressed
  // on the engine's own components: same add-one bigram model and
  // nano-quantized scoring as q187, same split law as q226/q267, same
  // loser tier as q239/q261. The two variants differ ONLY in the
  // training corpus, so the xent delta and the unseen-bigram-rate
  // delta are attributable to dedup alone — a quantified design
  // argument (the q252 pattern), not a style preference. 100 TB:
  // two count aggregations + vocabulary-sized broadcast joins per
  // variant over the linear banded tier; output is 2 rows.
  // ------------------------------------------------------------------
  private val lmEval: Seq[Q] = Seq(
    Q("q273_dedup_lm_eval",
      (s, d) => {
        import graft.text.Dedup
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), splitOf(col("doc_id")).as("split"),
            TextOps.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val losers = Dedup.connectedComponents(bandedVerifiedPairs(s, d))
          .filter(col("id") =!= col("cluster"))
          .select(col("id").as("doc_id"))
        def bigrams(df: DataFrame) = df.select(
          explode(expr("transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"))
            .as("bg"))
        val trainAll = toks.filter(col("split") === "train")
        val trainDedup = trainAll.join(losers, Seq("doc_id"), "left_anti")
        val valBg = bigrams(toks.filter(col("split") === "val"))
        def variant(name: String, train: DataFrame): DataFrame = {
          val c2 = bigrams(train).groupBy("bg").agg(count(lit(1)).as("c12"))
          val c1 = train.select(explode(col("toks")).as("w"))
            .groupBy("w").agg(count(lit(1)).as("c1"))
          val vocab = train.select(explode(col("toks")).as("w"))
            .agg(countDistinct(col("w")).as("v"))
          val nd = train.agg(count(lit(1)).as("n_train_docs"))
          valBg
            .join(broadcast(c2), Seq("bg"), "left")
            .withColumn("w1", split(col("bg"), " ").getItem(0))
            .join(broadcast(c1.withColumnRenamed("w", "w1")), Seq("w1"), "left")
            .crossJoin(broadcast(vocab))
            .withColumn("p",
              (coalesce(col("c12"), lit(0L)) + 1).cast("double") /
                (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
            .withColumn("t_q", floor(-log(col("p")) * 1e9 + 0.5).cast("long"))
            .withColumn("unseen", when(col("c12").isNull, 1L).otherwise(0L))
            .agg(count(lit(1)).as("n_bigrams"),
              sum(col("unseen")).as("n_unseen"),
              pround(sum(col("t_q")).cast("double") / count(lit(1)) / 1e9, 6)
                .as("xent"),
              pround(sum(col("unseen")).cast("double") / count(lit(1)), 6)
                .as("unseen_frac"))
            .crossJoin(broadcast(nd))
            .select(lit(name).as("variant"), col("n_train_docs"),
              col("n_bigrams"), col("n_unseen"), col("xent"),
              col("unseen_frac"))
        }
        variant("dedup", trainDedup).union(variant("full", trainAll))
          .orderBy("variant")
      },
      oracle = None,
      oracleDyn = Some { () =>
        def block(x: String, tr: String) =
          s"""lmbg$x AS (SELECT unnest([toks[i] || ' ' || toks[i + 1]
             |      FOR i IN range(1, len(toks))]) AS bg FROM $tr),
             |lmc2$x AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12
             |  FROM lmbg$x GROUP BY bg),
             |lmw$x AS (SELECT unnest(toks) AS w FROM $tr),
             |lmc1$x AS (SELECT w, CAST(count(*) AS BIGINT) AS c1
             |  FROM lmw$x GROUP BY w),
             |lmv$x AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM lmw$x),
             |lmn$x AS (SELECT CAST(count(*) AS BIGINT) AS n_train_docs FROM $tr),
             |lms$x AS (SELECT
             |    CAST(floor(-ln(CAST(coalesce(c2.c12, 0) + 1 AS DOUBLE) /
             |      CAST(coalesce(c1.c1, 0) + lmv$x.v AS DOUBLE)) * 1e9 + 0.5)
             |      AS BIGINT) AS t_q,
             |    CASE WHEN c2.c12 IS NULL THEN 1 ELSE 0 END AS unseen
             |  FROM lmval e
             |  LEFT JOIN lmc2$x c2 USING (bg)
             |  LEFT JOIN lmc1$x c1 ON c1.w = string_split(e.bg, ' ')[1]
             |  CROSS JOIN lmv$x),
             |lmo$x AS (SELECT '${if (x == "a") "full" else "dedup"}' AS variant,
             |    (SELECT n_train_docs FROM lmn$x) AS n_train_docs,
             |    CAST(count(*) AS BIGINT) AS n_bigrams,
             |    CAST(sum(unseen) AS BIGINT) AS n_unseen,
             |    ${sqlRound("CAST(sum(t_q) AS DOUBLE) / count(*) / 1e9", 6)} AS xent,
             |    ${sqlRound("CAST(sum(unseen) AS DOUBLE) / count(*)", 6)} AS unseen_frac
             |  FROM lms$x)""".stripMargin
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |lm0 AS (SELECT doc_id, ${sqlSplitOf("doc_id")} AS split,
           |    $sqlToks AS toks FROM documents),
           |lm1 AS (SELECT * FROM lm0 WHERE len(toks) >= 2),
           |lmtra AS (SELECT * FROM lm1 WHERE split = 'train'),
           |lmtrd AS (SELECT * FROM lmtra
           |  WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
           |lmval AS (SELECT doc_id, unnest([toks[i] || ' ' || toks[i + 1]
           |      FOR i IN range(1, len(toks))]) AS bg
           |  FROM lm1 WHERE split = 'val'),
           |${block("a", "lmtra")},
           |${block("b", "lmtrd")}
           |SELECT * FROM lmoa UNION ALL SELECT * FROM lmob
           |ORDER BY variant""".stripMargin
      }))

  // ------------------------------------------------------------------
  // q274: length-bias audit of the quality score — Spearman rank
  // correlation between document length (n_chars) and the q215 NB
  // quality score, per source. Quality classifiers preferring long
  // documents is a DOCUMENTED production pathology (the Gopher/CCNet
  // filtering literature controls for it explicitly); a |ρ| near 1
  // means the "quality" signal is largely a length signal and the
  // budgeted samplers (q219) would silently skew long. Ranks are
  // row_number with doc_id tie-break (deterministic on both engines;
  // a tie-broken Spearman, documented), so Σd² is exact BIGINT
  // arithmetic and ρ = 1 − 6Σd²/(n(n²−1)) is a single rational per
  // source. 100 TB: q215's aggregation shape + two windows over
  // per-source groups + a source-sized rollup.
  // ------------------------------------------------------------------
  private val biasAudit: Seq[Q] = Seq(
    Q("q274_len_quality_bias",
      (s, d) => {
        val sc = nbDocScores(s, d).select(col("doc_id"), col("score_q"))
        val base = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .join(sc, "doc_id")
        val wl = Window.partitionBy("source")
          .orderBy(col("n_chars").asc, col("doc_id").asc)
        val wq = Window.partitionBy("source")
          .orderBy(col("score_q").asc, col("doc_id").asc)
        base
          .withColumn("rl", row_number().over(wl).cast("long"))
          .withColumn("rq", row_number().over(wq).cast("long"))
          .withColumn("d2", (col("rl") - col("rq")) * (col("rl") - col("rq")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("d2").as("d2_sum"))
          .filter(col("n_docs") >= 2)
          .select(col("source"), col("n_docs"), col("d2_sum"),
            pround(lit(1.0) - lit(6.0) * col("d2_sum").cast("double") /
              (col("n_docs").cast("double") *
                (col("n_docs") * col("n_docs") - 1).cast("double")), 6)
              .as("spearman_rho"))
          .orderBy("source")
      },
      Some(s"""WITH $nbScoreSqlCtes,
             |lb AS (SELECT d.doc_id, d.source, d.n_chars, ds.score_q
             |  FROM documents d JOIN ds ON ds.doc_id = d.doc_id),
             |rk AS (SELECT source,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS rl,
             |    CAST(row_number() OVER (PARTITION BY source
             |      ORDER BY score_q ASC, doc_id ASC) AS BIGINT) AS rq
             |  FROM lb),
             |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum((rl - rq) * (rl - rq)) AS BIGINT) AS d2_sum
             |  FROM rk GROUP BY 1 HAVING count(*) >= 2)
             |SELECT source, n_docs, d2_sum,
             |  ${sqlRound(
               "1.0 - 6.0 * CAST(d2_sum AS DOUBLE) / (CAST(n_docs AS DOUBLE) * CAST(n_docs * n_docs - 1 AS DOUBLE))",
               6)} AS spearman_rho
             |FROM ag ORDER BY source""".stripMargin)))

  // --------------------------------------------------------------------
  // q280: Hill tail-index estimator over the duplicate-cluster size
  // distribution (Hill 1975, public knowledge — the standard estimator
  // of a power-law tail exponent from the top-k order statistics).
  // Duplicate-cluster sizes in web corpora are heavy-tailed; the tail
  // index α decides dedup COST PLANNING at scale: α ≤ 1 means a few
  // mega-clusters dominate the pair mass (cluster-size caps / keep-best
  // election become mandatory), α > 2 means the tail is thin and plain
  // connected components stay cheap. Estimated on the banded-verified
  // tier (the measured-linear dedup path) at a FIXED grid of k values —
  // the classic Hill plot, and the fixed-budget discipline: k is an
  // estimator knob, not a corpus statistic. Per k: k_eff = min(k, n−1),
  // the tail threshold s_(k_eff+1) (singleton clusters count as size 1),
  // and α̂ = k_eff / Σ_{i≤k_eff} ln(s_(i)/s_(k_eff+1)) — NULL when the
  // top-k sizes are all equal to the threshold (the estimator is
  // undefined there, and hiding that as 0 or ∞ would mislead the
  // planner). Parity: each log term is floored to µnat BIGINTs before
  // summing (order-free), and the driver math mirrors the SQL literally.
  // 100 TB: the banded tier is measured-linear; on top of it one
  // cluster-count-sized aggregation, a TakeOrdered(k_max+1), and
  // constant driver math — the collect is ≤ 51 rows by construction.
  // --------------------------------------------------------------------
  private val HillKs = Seq(5L, 10L, 20L, 50L)

  private val tailAudit: Seq[Q] = Seq(
    Q("q280_dup_tail_hill",
      (s, d) => {
        import s.implicits._
        import graft.text.Dedup
        import graft.Rounding.dround
        val kMax = HillKs.max.toInt
        val sizes = Cached.persist(Dedup.connectedComponents(bandedVerifiedPairs(s, d))
          .groupBy("cluster").agg(count(lit(1)).as("sz")))
        val top = sizes.orderBy(col("sz").desc, col("cluster").asc)
          .limit(kMax + 1).collect().map(_.getLong(1))
        val a = sizes.agg(count(lit(1)).as("m"), sum("sz").as("di")).collect().head
        // sum over zero clusters is NULL — a dup-free corpus is a
        // legal input, and the SQL twin coalesces the same way.
        val (m, docsIn) = (a.getLong(0), if (a.isNullAt(1)) 0L else a.getLong(1))
        val total = Tables.documents(s, d).count()
        val n = m + (total - docsIn) // singleton docs are size-1 clusters
        val rows = HillKs.map { kReq =>
          val kEff = math.min(kReq, n - 1)
          // kEff can be negative on an EMPTY corpus (n = 0 ⇒ kEff = −1);
          // the SQL twin's `rn = kEff + 1` subquery then matches nothing
          // and coalesces to 1 — mirror that instead of indexing top(−1).
          val sk1 = if (kEff >= 0 && kEff + 1 <= m) top(kEff.toInt) else 1L
          // Terms beyond the m non-singleton clusters are ln(1/1) → 0
          // after quantization (floor(0.5) = 0), so the sum over
          // i ≤ min(k_eff, m) is exact.
          val q = (1L to math.min(kEff, m)).map { i =>
            math.floor(math.log(top(i.toInt - 1).toDouble / sk1) * 1e6 + 0.5).toLong
          }.sum
          val alpha =
            if (q > 0) Some(dround(kEff.toDouble * 1e6 / q, 6)) else None
          (kReq, kEff, n, sk1, q, alpha)
        }
        rows.toDF("k_req", "k_eff", "n_clusters", "tail_size",
            "hill_sum_unats", "alpha_hat")
          .orderBy("k_req")
      },
      Some {
        val ks = HillKs.mkString("[", ", ", "]")
        s"""WITH RECURSIVE $bandedVerifiedSqlCtes,
           |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS sz
           |  FROM comp GROUP BY cluster),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents),
           |nin AS (SELECT CAST(count(*) AS BIGINT) AS di,
           |    CAST(count(DISTINCT cluster) AS BIGINT) AS m FROM comp),
           |nc AS (SELECT (t - di) + m AS n, m FROM tot CROSS JOIN nin),
           |ord AS (SELECT sz, CAST(row_number() OVER (ORDER BY sz DESC, cluster ASC)
           |    AS BIGINT) AS rn FROM cs),
           |ks AS (SELECT CAST(unnest($ks) AS BIGINT) AS k_req),
           |tl AS (SELECT k_req, least(k_req, n - 1) AS k_eff, n, m,
           |    coalesce((SELECT sz FROM ord
           |      WHERE rn = least(k_req, n - 1) + 1), 1) AS sk1
           |  FROM ks CROSS JOIN nc),
           |sm AS (SELECT t.k_req, CAST(coalesce(sum(
           |      CAST(floor(ln(CAST(o.sz AS DOUBLE) / t.sk1) * 1e6 + 0.5)
           |        AS BIGINT)), 0) AS BIGINT) AS q
           |  FROM tl t LEFT JOIN ord o ON o.rn <= t.k_eff
           |  GROUP BY t.k_req)
           |SELECT t.k_req, t.k_eff, t.n AS n_clusters, t.sk1 AS tail_size,
           |  sm.q AS hill_sum_unats,
           |  CASE WHEN sm.q > 0
           |    THEN ${sqlRound("CAST(t.k_eff AS DOUBLE) * 1e6 / sm.q", 6)}
           |  END AS alpha_hat
           |FROM tl t JOIN sm USING (k_req) ORDER BY t.k_req""".stripMargin
      }))

  // --------------------------------------------------------------------
  // q283: contamination-dirtiness accounting — the GPT-3-style release
  // table (Brown et al. 2020 §C, public knowledge: documents are classed
  // by the FRACTION of their n-grams shared with a benchmark, and the
  // corpus report counts docs/tokens per class). q110 emits the raw
  // per-doc overlap; this query normalizes it into bands and rolls the
  // corpus up per (source, band): `clean` (zero shared grams),
  // `dirty_low` (≤ 20 % of the doc's distinct grams), `dirty_high`
  // (> 20 %), and `ungauged` for docs too short to form one 8-gram —
  // reported, not hidden (the q272 audit doctrine: a class that cannot
  // be measured must stay visible). The 20 % bar is a hyperparameter,
  // compared as the exact integer inequality 5·n_shared ≤ n_grams so
  // neither engine touches a float. 100 TB: q110's shape (benchmark
  // hash set broadcast, gram hashes never leave the scan) plus one
  // (source, band) hash aggregation — output is D×4 rows.
  // --------------------------------------------------------------------
  private val dirtiness: Seq[Q] = Seq(
    Q("q283_contamination_bands",
      (s, d) => {
        import graft.text.Contamination
        val docs = Tables.documents(s, d)
        val perDoc = Contamination.benchmarkDirtiness(
          docs, "doc_id", "text", col("source") === "src0", n = 8)
        val band = when(col("n_grams") === 0L, "ungauged")
          .when(col("n_shared") === 0L, "clean")
          .when(col("n_shared") * 5 <= col("n_grams"), "dirty_low")
          .otherwise("dirty_high")
        docs.filter(col("source") =!= "src0")
          .select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("nt"))
          .join(perDoc, "doc_id")
          .withColumn("band", band)
          .groupBy("source", "band")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
          .orderBy("source", "band")
      },
      Some(s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w FROM documents),
              |sh AS (SELECT doc_id, source, unnest(${sqlShingles(8, "w")}) AS g FROM t),
              |hh AS (SELECT doc_id, source, ${sqlHash60("g")} AS h FROM sh),
              |b AS (SELECT DISTINCT h FROM hh WHERE source = 'src0'),
              |c AS (SELECT DISTINCT doc_id, h FROM hh WHERE source <> 'src0'),
              |g AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ng FROM c GROUP BY 1),
              |sj AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns
              |  FROM c JOIN b USING (h) GROUP BY 1),
              |j AS (SELECT t.source, coalesce(g.ng, 0) AS ng,
              |    coalesce(sj.ns, 0) AS ns, CAST(len(t.w) AS BIGINT) AS nt
              |  FROM t LEFT JOIN g USING (doc_id) LEFT JOIN sj USING (doc_id)
              |  WHERE t.source <> 'src0'),
              |bd AS (SELECT source,
              |    CASE WHEN ng = 0 THEN 'ungauged'
              |         WHEN ns = 0 THEN 'clean'
              |         WHEN ns * 5 <= ng THEN 'dirty_low'
              |         ELSE 'dirty_high' END AS band, nt
              |  FROM j)
              |SELECT source, band, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(nt) AS BIGINT) AS n_tokens
              |FROM bd GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))

  def all: Seq[Q] =
    quality ++ relevance ++ pq ++ streamingChecked ++ composed ++ ml ++
      ordered ++ lm ++ dedupApply ++ passage ++ entropy ++ fusion ++
      retrievalEval ++ lm2 ++ whiten ++ curation ++ policy ++ bandedTwins ++
      keepBest ++ lmEval ++ biasAudit ++ tailAudit ++ dirtiness
}
