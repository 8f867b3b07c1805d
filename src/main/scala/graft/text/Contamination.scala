package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Cached

/** Cross-corpus n-gram machinery for training-data hygiene:
  * benchmark-contamination detection and paragraph-level (chunk)
  * cross-document dedup — the C4/GPT-3-style decontamination stages
  * (Brown et al. 2020 §C; Raffel et al. 2020 §2.2, public knowledge).
  *
  * Both operators reduce documents to 60-bit gram hashes immediately, so
  * every shuffle moves (id, long) pairs — at 100 TB the gram text never
  * leaves the scan stage.
  */
object Contamination {

  /** Benchmark-contamination check: for every candidate document (rows
    * where `benchPred` is false), the number of distinct word `n`-gram
    * hashes it shares with ANY benchmark document (rows where `benchPred`
    * is true), GPT-3-style (13-gram overlap there; `n` is a parameter).
    *
    * Shape: both sides shingle → hash → distinct, then equi-join on the
    * hash. The benchmark side is a distinct hash set — tiny relative to
    * the corpus (benchmarks are MBs, corpora are TBs), so AQE broadcasts
    * it and the corpus is never shuffled; the per-doc count is a hash
    * aggregation on the join survivors only.
    *
    * Output: (idCol, n_shared, contaminated) for every candidate doc.
    */
  def benchmarkOverlap(docs: DataFrame, idCol: String, textCol: String,
      benchPred: Column, n: Int): DataFrame = {
    val hashed = docs
      .select(col(idCol), benchPred.as("__bench"),
        explode(TextOps.wordShingles(col(textCol), n)).as("__g"))
      .select(col(idCol), col("__bench"), TextOps.md5Hash60(col("__g")).as("__h"))
    val bench = hashed.filter(col("__bench")).select("__h").distinct()
    val cand = hashed.filter(!col("__bench"))
      .select(col(idCol), col("__h")).distinct()
    val shared = cand.join(bench, "__h")
      .groupBy(idCol).agg(count(lit(1)).as("__n"))
    docs.filter(!benchPred).select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_shared"),
        (coalesce(col("__n"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[benchmarkOverlap]] plus the candidate's own distinct-gram count —
    * the denominator of the GPT-3-style "dirtiness" fraction (Brown et
    * al. 2020 §C measure contamination as the FRACTION of a doc's
    * n-grams shared with a benchmark, not the raw count). Output:
    * (idCol, n_grams, n_shared) for every candidate doc; docs too short
    * to form a single n-gram report n_grams = 0 (the caller decides how
    * to class them — hiding them as clean would skew the audit). Same
    * 100 TB shape as [[benchmarkOverlap]]: the extra per-doc gram count
    * rides the same distinct (doc, hash) relation, no new corpus scan.
    */
  def benchmarkDirtiness(docs: DataFrame, idCol: String, textCol: String,
      benchPred: Column, n: Int): DataFrame = {
    val hashed = docs
      .select(col(idCol), benchPred.as("__bench"),
        explode(TextOps.wordShingles(col(textCol), n)).as("__g"))
      .select(col(idCol), col("__bench"), TextOps.md5Hash60(col("__g")).as("__h"))
    val bench = hashed.filter(col("__bench")).select("__h").distinct()
    val cand = hashed.filter(!col("__bench"))
      .select(col(idCol), col("__h")).distinct()
    val grams = cand.groupBy(idCol).agg(count(lit(1)).as("__ng"))
    val shared = cand.join(bench, "__h")
      .groupBy(idCol).agg(count(lit(1)).as("__ns"))
    docs.filter(!benchPred).select(col(idCol))
      .join(grams, Seq(idCol), "left")
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__ng"), lit(0L)).as("n_grams"),
        coalesce(col("__ns"), lit(0L)).as("n_shared"))
  }

  /** Bloom-pruned variant of [[benchmarkOverlap]] — identical output
    * (the Bloom filter has no false negatives and an exact join verifies
    * the survivors, so the prune is lossless), different 100 TB shape:
    *
    * the benchmark's distinct gram-hash set is summarized into a Bloom
    * filter (`-n·ln(fpp)/ln²2` bits — MBs where the exact set is GBs),
    * broadcast to every task, and applied to corpus grams BEFORE the
    * per-doc `distinct`, so the corpus-side shuffle carries only
    * might-contain survivors (≈ true matches + fpp of the rest) instead
    * of every gram in the corpus. The exact equi-join then removes the
    * false positives. This is the standard sketch-then-verify join prune
    * (Bloom 1970; same pattern Spark's own runtime bloom-filter join
    * pruning applies to equi-joins).
    */
  def bloomPrunedOverlap(docs: DataFrame, idCol: String, textCol: String,
      benchPred: Column, n: Int, fpp: Double = 0.03): DataFrame = {
    val hashed = docs
      .select(col(idCol), benchPred.as("__bench"),
        explode(TextOps.wordShingles(col(textCol), n)).as("__g"))
      .select(col(idCol), col("__bench"), TextOps.md5Hash60(col("__g")).as("__h"))
    val bench = Cached.persist(hashed.filter(col("__bench")).select("__h").distinct())
    // One pass over the (small) benchmark side sizes the sketch exactly;
    // the build itself is a treeAggregate of mergeable filters.
    val nBench = math.max(bench.count(), 1L)
    val bf = bench.stat.bloomFilter("__h", nBench, fpp)
    val spark = docs.sparkSession
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((h: Long) => bfB.value.mightContainLong(h))
    val cand = hashed.filter(!col("__bench"))
      .filter(mightContain(col("__h")))
      .select(col(idCol), col("__h")).distinct()
    val shared = cand.join(bench, "__h")
      .groupBy(idCol).agg(count(lit(1)).as("__n"))
    val out = docs.filter(!benchPred).select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_shared"),
        (coalesce(col("__n"), lit(0L)) > 0).as("contaminated"))
    // The caller's action runs with `bench` cached (it is read twice:
    // sketch build + verify join); hand back an un-cached plan.
    val materialized = Cached.checkpoint(out)
    Cached.release(bench)
    bfB.destroy()
    materialized
  }

  /** Paragraph-proxy chunk dedup: split each document into consecutive
    * non-overlapping `chunkTokens`-token chunks (ragged tail dropped),
    * hash each chunk, and report per document how many of its chunks also
    * occur in at least one OTHER document — the C4 "three-sentence span"
    * dedup statistic re-expressed over token chunks (the corpus has no
    * sentence boundaries).
    *
    * Output: (idCol, n_chunks, dup_chunk_frac) for documents with ≥ 1
    * full chunk. Intra-document repeats do NOT count as duplicates (the
    * distinct-document count drives the flag) — this measures
    * cross-document contamination, not self-repetition (that is
    * [[TextOps.repetitionStats]]).
    */
  def chunkDupStats(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val toks = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
      .withColumn("__nch", floor(size(col("__w")) / chunkTokens).cast("long"))
      .filter(col("__nch") > 0)
    val chunks = toks
      .withColumn("__j", explode(sequence(lit(0L), col("__nch") - 1)))
      .select(col(idCol),
        TextOps.md5Hash60(
          concat_ws(" ", slice(col("__w"),
            (col("__j") * chunkTokens + 1).cast("int"), lit(chunkTokens))))
          .as("__h"))
    val spread = chunks.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__nd"))
    chunks.join(spread, "__h")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("__ndup"))
      .select(col(idCol), col("n_chunks"),
        graft.Rounding.pround(
          col("__ndup").cast("double") / col("n_chunks"), 6).as("dup_chunk_frac"))
  }
}
