package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Cached, LocalTier}
import graft.Rounding.pround
import graft.sim.Graph

/** Document deduplication operators: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup (public-knowledge algorithms:
  * Broder 1997 minhash/shingling, Charikar 2002 simhash, the standard
  * LSH banding scheme).
  *
  * Scale posture: every variant is shuffle-bounded by (band/bucket key) or
  * (shingle), never all-pairs over the corpus; candidate pairs are
  * generated by equi-joins on bucket keys so a 100 TB corpus only
  * compares documents that collide.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on the normalized-text fingerprint, keeping
    * the smallest id per group (deterministic winner).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy(col(idCol).asc)
    df.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "fp")
  }

  /** MinHash signature: `numHashes` independent 60-bit permutations,
    * signature[i] = min over shingles of hash_i(shingle). Documents with
    * no shingles get null signatures (filtered by callers).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val sigs = (0 until numHashes).map { seed =>
      array_min(transform(shingles, s =>
        TextOps.md5Hash60(concat(lit(seed.toString), lit(":"), s))))
    }
    array(sigs: _*)
  }

  /** Universal-hash permutation family for minhash: the shingle is md5'd
    * ONCE to a 60-bit value, split into two 30-bit halves, and each
    * permutation is `(aᵢ·x₁ + bᵢ·x₂ + cᵢ) mod (2⁶¹−1)` — a 2-universal
    * family whose intermediates stay < 2⁶³ (no BIGINT overflow on either
    * engine, and ~12× fewer md5 evaluations than per-seed hashing).
    * Coefficients come from a seeded deterministic RNG and are embedded
    * as plan/SQL literals.
    */
  private[graft] val MinhashPrime = (1L << 61) - 1

  private[graft] def minhashCoeffs(numHashes: Int, seed: Long): Array[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)((
      rnd.nextInt(Int.MaxValue).toLong + 1L,
      rnd.nextInt(Int.MaxValue).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  private[graft] def universalHash(h: Column, abc: (Long, Long, Long)): Column = {
    val x1 = h.bitwiseAND(lit((1L << 30) - 1))
    val x2 = shiftright(h, 30)
    (lit(abc._1) * x1 + lit(abc._2) * x2 + lit(abc._3)) % MinhashPrime
  }

  /** MinHash + LSH banded near-dup candidate pairs:
    * shingle → minhash signature → `bands` bands of `rowsPerBand` rows →
    * bucket-join on (band index, band slice) → distinct candidate pairs
    * (a < b). The banding equi-join is the scale path: no cross product.
    *
    * Signatures are built aggregation-shaped (explode shingles once, ONE
    * codegen'd md5, `numHashes` universal-hash min aggregates, one
    * shuffle on the id) rather than per-row HOF passes — the same ~10×
    * win as [[simhashAgg]], plus the single-md5 permutation family.
    * Documents with zero shingles produce no signature.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 12, bands: Int = 4,
      seed: Long = 7L): DataFrame = {
    require(numHashes % bands == 0)
    val rowsPerBand = numHashes / bands
    val coeffs = minhashCoeffs(numHashes, seed)
    // Signature building is per-document local, so it runs as ONE
    // codegen'd kernel expression (MinHashKernel: tokenize → shingle →
    // one md5 per shingle → k permutation minima) — bit-identical to the
    // previous explode + groupBy(id) min-aggregate formulation (spec'd
    // against it) but with ZERO corpus-sized shuffles before the band
    // join. Documents with fewer than n tokens yield null (filtered,
    // matching the groupBy shape which emitted no row).
    val sigs = df.select(col(idCol),
      org.apache.spark.sql.graft.MinHashExpressions
        .minhashSig(col(textCol), shingleN, coeffs).as("__sig"))
      .filter(col("__sig").isNotNull)
    val bandStructs = (0 until bands).map { bIdx =>
      struct(lit(bIdx).as("band"),
        slice(col("__sig"), bIdx * rowsPerBand + 1, rowsPerBand)
          .as("band_sig"))
    }
    val banded = sigs.select(col(idCol), explode(array(bandStructs: _*)).as("__b"))
      .select(col(idCol), col("__b.band").as("band"), col("__b.band_sig").as("band_sig"))
    val a = banded.select(col("band"), col("band_sig"), col(idCol).as("id_a"))
    val b = banded.select(col("band"), col("band_sig"), col(idCol).as("id_b"))
    a.join(b, Seq("band", "band_sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** SimHash fingerprint over word shingles: each hash bit contributes
    * ±1 per shingle; fingerprint bit = sign of the sum. Bit positions are
    * unrolled at plan-build time (literal shifts), keeping every op a
    * codegen'd long instruction. Default 32 bits bounds the expression
    * tree; collision behavior at 32 bits is ample for near-dup banding.
    */
  def simhash(shingles: Column, bits: Int = 32): Column = {
    val hashes = transform(shingles, s => TextOps.md5Hash60(s))
    val fp = (0 until bits).map { b =>
      val bitSum = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }
    fp.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Aggregation-shaped simhash: explode shingles once, hash once, then
    * `bits` codegen'd integer sum aggregates (one shuffle on idCol).
    * Semantically identical to [[simhash]] but ~10× faster — the
    * per-element HOF passes become whole-stage-codegen'd aggregates.
    * Documents with zero shingles produce no output row.
    */
  def simhashAgg(df: DataFrame, idCol: String, shingles: Column,
      bits: Int = 32): DataFrame =
    // Fingerprinting is per-document local: the SimHashSig kernel
    // (one md5 per shingle, ±1 bit sums, sign pack — bit-identical to
    // the previous explode + groupBy(id) bit-sum aggregates, spec'd)
    // runs as a codegen'd projection, so no corpus-sized shuffle
    // remains before the pigeonhole band join. Zero-shingle docs yield
    // null → filtered, matching the groupBy shape's emitted-no-row.
    df.select(col(idCol),
        org.apache.spark.sql.graft.SimHashExpressions
          .simhashSig(shingles, bits).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Hamming distance between two simhash fingerprints — `bit_count(xor)`
    * is codegen'd in Spark and computed identically by DuckDB.
    */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** SimHash near-dup pairs: fingerprints within `maxHamming` bits,
    * via the LOSSLESS pigeonhole banding scheme (Manku et al. 2007):
    * split the `bits`-bit fingerprint into `maxHamming + 1` contiguous
    * bands — a pair with ≤ maxHamming differing bits must agree exactly
    * on at least one band — equi-join on (band index, band value), then
    * verify each candidate with the exact `bit_count(xor)`.
    *
    * Scale shape: one explode (×(maxHamming+1)) + one shuffle-hash
    * equi-join on the band key + a distinct — never an all-pairs cross
    * product. Candidate fan-out is Σ_buckets |bucket|²; with 64-bit
    * production fingerprints the bands are 9–10 bits wide and buckets
    * stay tiny. Identical output to the quadratic form for any input.
    */
  /** Pigeonhole band explosion: one row per (band, band_val) —
    * `maxHamming + 1` rows per input row, all other columns carried
    * through. A pair within `maxHamming` differing bits agrees exactly
    * on ≥ 1 band (Manku et al. 2007), so an equi-join on
    * (band, band_val) is a LOSSLESS candidate generator for the bar.
    * Shared by the batch pair join below and the on-arrival gate's
    * broadcast reference index (q298).
    */
  def pigeonholeBands(df: DataFrame, simhashCol: String,
      maxHamming: Int, bits: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(bits >= nBands, s"need at least $nBands fingerprint bits")
    // Band widths differ by at most 1 (e.g. 32 bits / 7 bands → 5,5,5,5,4,4,4).
    val widths = Array.tabulate(nBands)(i => bits / nBands + (if (i < bits % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val bandStructs = (0 until nBands).map { i =>
      val mask = (1L << widths(i)) - 1
      struct(lit(i).as("band"),
        shiftright(col(simhashCol), offsets(i)).bitwiseAND(lit(mask)).as("band_val"))
    }
    val carried = df.columns.map(col).toSeq
    df.select(carried :+ explode(array(bandStructs: _*)).as("__b"): _*)
      .select(carried :+ col("__b.band").as("band")
        :+ col("__b.band_val").as("band_val"): _*)
  }

  def simhashNearDupPairs(df: DataFrame, idCol: String, simhashCol: String,
      maxHamming: Int, bits: Int = 32): DataFrame = {
    val banded = pigeonholeBands(df.select(col(idCol), col(simhashCol)),
      simhashCol, maxHamming, bits)
    val a = banded.select(col("band"), col("band_val"),
      col(idCol).as("id_a"), col(simhashCol).as("sh_a"))
    val b = banded.select(col("band"), col("band_val"),
      col(idCol).as("id_b"), col(simhashCol).as("sh_b"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      // A pair can collide in several bands — dedup AFTER the cheap
      // verify so the distinct shuffles only surviving pairs.
      .select("id_a", "id_b", "hamming")
      .distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs with PPJoin-style prefix
    * filtering (Xiao et al. 2008, public knowledge): J(a,b) ≥ t over
    * DISTINCT word n-grams.
    *
    * Scale shape: candidate pairs come from an inverted-index join on
    * each document's PREFIX — its ⌊(1−t)·n⌋+1 globally-rarest shingles —
    * which is lossless for threshold t but shrinks the join's fan-out by
    * orders of magnitude when the vocabulary is skewed (two docs with
    * J ≥ t MUST share a prefix shingle). The exact intersection is then
    * computed per candidate pair via `array_intersect` on the docs'
    * sorted shingle-hash sets, never by re-joining the full index.
    * Shingles are 60-bit-hashed first so every shuffle moves longs;
    * collisions (≈n²/2⁶¹) merge shingles identically on the engine and
    * oracle sides, so parity is unaffected.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    // PPJoin is inherently multi-pass, but it needs only ONE materialized
    // artifact: the shingle index enriched with global frequency (__f, a
    // window count over the shingle — same result as a groupBy+join but
    // no self-join) and the per-doc rarity rank/size (__r/__n). Every
    // downstream stage — prefix filter, candidate join, per-doc sets —
    // reads this single cached frame, so the pipeline pays one persist
    // and one eager count() instead of round 2's three serializing
    // barriers. MEMORY_AND_DISK: at large SF the index spills, not OOMs.
    val ranked = Cached.persist(df
      .select(col(idCol), explode(array_distinct(
        TextOps.wordShingles(col(textCol), shingleN))).as("__s"))
      .select(col(idCol), TextOps.md5Hash60(col("__s")).as("shingle"))
      .distinct()
      // Global shingle rarity; rarest-first ordering makes short prefixes.
      .withColumn("__f", count(lit(1)).over(Window.partitionBy("shingle")))
      .withColumn("__r", row_number().over(
        Window.partitionBy(idCol).orderBy(col("__f").asc, col("shingle").asc)))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(idCol))))
    ranked.count() // eager: keeps the downstream stages on the cached copy
    // instead of racing AQE re-plans against cache fill.
    val prefix = ranked
      .filter(col("__r") <= floor((lit(1.0) - threshold) * col("__n")) + 1)
      .select(col("shingle"), col(idCol), col("__n"))
    val candidates = prefix.as("a")
      .join(prefix.as("b"), Seq("shingle"))
      .filter(col(s"a.$idCol") < col(s"b.$idCol"))
      // PPJoin length filter (Xiao 2008): J ≥ t forces |∩| ≥ t·max and
      // |∩| ≤ min, so min(|a|,|b|) ≥ t·max(|a|,|b|) — lossless, and at
      // skewed corpora it removes the short-vs-long candidate mass the
      // prefix filter alone lets through.
      .filter(least(col("a.__n"), col("b.__n")) >=
        lit(threshold) * greatest(col("a.__n"), col("b.__n")))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val sets = ranked.groupBy(idCol)
      .agg(sort_array(collect_list(col("shingle"))).as("__hs"),
        count(lit(1)).as("__n"))
    val verified = candidates
      .join(sets.select(col(idCol).as("id_a"), col("__hs").as("__hs_a"),
        col("__n").as("n_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__hs").as("__hs_b"),
        col("__n").as("n_b")), "id_b")
      .withColumn("n_inter", size(array_intersect(col("__hs_a"), col("__hs_b"))))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
    verified.select(col("id_a"), col("id_b"), pround(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact union-find (union by min root, path compression) over a
    * collected edge list — the local tier of [[connectedComponents]].
    * Returns one (id, cluster=min reachable id) row per distinct node,
    * exactly the distributed loop's fixpoint (min-label propagation
    * converges to the component minimum; union-find computes the same
    * minimum directly).
    */
  private[graft] def unionFindMin(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def add(x: Long): Unit = parent.putIfAbsent(x, x)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new Array[(Long, Long)](parent.size())
    var i = 0
    val it = parent.keySet().iterator()
    while (it.hasNext) { val k = it.next(); out(i) = (k, find(k)); i += 1 }
    out
  }

  /** Connected components over a near-dup pair list — the cluster step a
    * production dedup needs between pair generation and keep-one: every
    * document gets its component's minimum id as `cluster`. Min-label
    * propagation (the Pregel/GraphX shape on plain DataFrames): each
    * round joins labels to the symmetrized edge list, takes the min
    * neighbor label, and lowers labels that improved. Converges in
    * O(component diameter) rounds — near-dup clusters are shallow (most
    * are pairs/triangles), so the loop is 2–3 rounds in practice; the
    * driver sees only a per-round change COUNT, never rows.
    *
    * Adaptive local tier (round-17): when both id columns are BIGINT and
    * the materialized edge list fits [[LocalTier.Cc]], the components
    * are computed exactly on the driver (see [[unionFindMin]]) —
    * identical labels (LocalTierParitySpec pins local ≡ distributed on
    * chain/star/dup fixtures and the registered tiers' oracles pin every
    * consumer). The local tier converges exactly and IGNORES `maxIter`;
    * the distributed tier fails loudly if `maxIter` rounds don't reach
    * the fixpoint (round-18, ADVICE r17) — so the two tiers can never
    * silently disagree on deep-diameter graphs.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 25,
      roundsOut: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    val (edges, local) = Graph.edgeTiers(LocalTier.Cc, pairs, idA, idB)
    local match {
      case Some(arr) =>
        if (roundsOut != null) roundsOut.set(1)
        Graph.idFrame(pairs.sparkSession, unionFindMin(arr), "cluster")
      case None => connectedComponentsDistributed(edges, maxIter, roundsOut)
    }
  }

  /** The distributed min-label loop over the materialized symmetric edge
    * list — the 100 TB tier of [[connectedComponents]], unchanged
    * semantics. Unpersists `edges` before returning.
    */
  private[graft] def connectedComponentsDistributed(edges: DataFrame,
      maxIter: Int = 25,
      roundsOut: java.util.concurrent.atomic.AtomicInteger = null): DataFrame = {
    // Round 1 fused into initialization: with identity labels the first
    // iteration's edges⋈labels join maps src→src, so its neighbor-min is
    // just min(src) grouped by dst — one aggregation straight off the
    // edge list, no join, no identity-label materialization. Saves a
    // full join+persist+count cycle per invocation (the loop converges
    // in diameter+1 rounds and near-dup diameters are 1–2, so this is
    // ~a third of the loop's fixed cost).
    //
    // Round-18: each round is materialized with localCheckpoint(true)
    // instead of persist, and the superseded round's blocks are released
    // eagerly (Cached.release — the Graph.pageRankDistributed
    // discipline). persist caches DATA but keeps the LOGICAL plan
    // growing one join deeper per round, so Catalyst re-analyzed a
    // depth-i tree on every iteration — fine at near-dup depth 2–4,
    // superlinear-pathological on deep-diameter graphs (a 30-node chain
    // spent minutes in plan re-analysis/rendering before the first kill;
    // the 100 TB tier is exactly where deep chains can appear). Results
    // are unchanged: every step is exact integer/min arithmetic.
    var ckpt = Cached.checkpoint(edges.groupBy(col("dst"))
      .agg(min(col("src")).as("__m"))
      .select(col("dst").as("id"),
        least(col("dst"), col("__m")).as("cluster")))
    var labels = ckpt
    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      // The round carries the previous label through, so convergence is a
      // FILTER+COUNT on the frame we already materialize — not an extra
      // next⋈labels join (one fewer shuffle per iteration).
      val next = Cached.checkpoint(Graph.minLabelRound(edges, labels, "cluster"))
      val changed = next.filter(col("cluster") < col("__old")).count()
      Cached.release(ckpt)
      ckpt = next
      labels = next.select("id", "cluster")
      converged = changed == 0
      i += 1
    }
    if (roundsOut != null) roundsOut.set(i)
    // Fail LOUDLY at the round cap (ADVICE r17): a silent stop on a
    // component with diameter > maxIter−1 would return labels that are
    // not the component minimum — and would differ from the local
    // union-find tier (which converges exactly and ignores maxIter) on
    // the same input, making the output depend on which tier the edge
    // count selected. The q282 symmetric-failure discipline: wrong
    // silently is worse than loud. Every registered tier converges in
    // 2–4 rounds (near-dup clusters are shallow); a 100 TB graph with
    // >24-hop chains must raise maxIter consciously, not truncate.
    require(converged,
      s"connectedComponents: min-label loop did not converge within " +
        s"maxIter=$maxIter rounds — component diameter exceeds the cap; " +
        "raise maxIter (labels would not be component minima)")
    Cached.release(edges)
    // The final round's frame is ALREADY a materialized localCheckpoint,
    // owned by the query's Cached scope — `labels` is the checkpoint
    // itself (round 1) or a projection over it.
    labels
  }

  /** Embedding-cosine near-dup: pairs with cosine similarity ≥ threshold.
    * `planes <= 0` is the exact all-pairs form (quadratic — see
    * [[graft.sim.Knn.cosinePairs]] for the fast blocked kernel, usable as
    * a per-bucket re-rank when one side is broadcastable); with
    * `planes > 0` vectors are bucketed by random hyperplane signs (LSH)
    * so only same-bucket pairs are compared — the 100 TB path.
    *
    * `dim` must equal the embedding width: each row is checked and a
    * mismatched vector raises instead of silently collapsing sign bits
    * (zip_with would null-pad a short plane/vector pair).
    */
  def embeddingNearDup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, planes: Int = 0, dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    import graft.ohlcv.Search
    val base = df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val (a, b) =
      if (planes <= 0) {
        (base.select(col(idCol).as("id_a"), col("__v").as("va")),
          base.select(col(idCol).as("id_b"), col("__v").as("vb")))
      } else {
        val mat = graft.ohlcv.Encode.randomProjectionMatrix(dim, planes, seed)
        val checked = when(size(col("__v")) === dim, col("__v"))
          .otherwise(raise_error(concat(
            lit(s"embeddingNearDup: expected dim=$dim, got "),
            size(col("__v")).cast("string"))).cast("array<double>"))
        // The signature is the generator input, not a projected column:
        // the join's inferred isnotnull(__bucket) then filters the
        // generated value instead of being pushed below as a second copy
        // of the whole signature expression.
        val sig = base.select(col("*"),
          explode(array(graft.sim.Lsh.hyperplaneSignature(checked, mat))).as("__bucket"))
        (sig.select(col("__bucket"), col(idCol).as("id_a"), col("__v").as("va")),
          sig.select(col("__bucket"), col(idCol).as("id_b"), col("__v").as("vb")))
      }
    val joined =
      if (planes <= 0) a.crossJoin(b) else a.join(b, Seq("__bucket"))
    joined
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", Search.cosine(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), pround(col("cos"), 6).as("cos_sim"))
  }
}
