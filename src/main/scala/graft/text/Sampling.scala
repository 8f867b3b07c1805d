package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines.
  *
  * Complements [[Packing.hashSplit]] (train/val routing): here the goal is
  * REBALANCING — drawing a stratified sample so every stratum (language,
  * source, quality bucket, …) contributes equally, the standard mitigation
  * for language/domain skew in web corpora (public knowledge; e.g. the
  * CCNet/mC4 per-language sampling stage).
  */
object Sampling {

  /** Temperature-based mixture reweighting (the multilingual-LM α-sampling
    * rule: q_s ∝ p_s^α, Lample & Conneau 2019 §3.1 — α < 1 upsamples rare
    * strata without the hard floor of [[balancedSample]]).
    *
    * Output: one row per stratum with its token share `p`, resampling
    * weight `q`, and expected post-resampling token count.
    *
    * Determinism: the per-stratum totals are exact longs; both Σ-folds run
    * over an ORDER BY stratum frame (Spark and an oracle fold in the same
    * order, so the doubles agree bitwise); α = 0.5 uses `sqrt`, which IEEE
    * requires to be correctly rounded, where `pow` is only
    * faithfully-rounded and may differ across engines by an ulp.
    *
    * Shape at 100 TB: one hash aggregation to the stratum histogram (rows
    * = #strata, tiny); the window normalizations run on that tiny frame.
    * Applying the weights is then [[balancedSample]]'s broadcast-join
    * pattern — the corpus is never shuffled.
    */
  def mixtureWeights(docs: DataFrame, stratumCol: String,
      tokens: org.apache.spark.sql.Column, alpha: Double): DataFrame = {
    val per = docs.groupBy(stratumCol).agg(sum(tokens).as("n_tokens"))
    // Ordered full frame: the fold order of the double sums is the
    // stratum order on BOTH engines (an unordered frame would sum in
    // partition-layout order — nondeterministic across runs).
    val full = Window.orderBy(stratumCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    def powA(c: org.apache.spark.sql.Column) =
      if (alpha == 0.5) sqrt(c) else pow(c, alpha)
    per
      .withColumn("p", col("n_tokens").cast("double") / sum("n_tokens").over(full))
      .withColumn("q", powA(col("p")) / sum(powA(col("p"))).over(full))
  }

  /** Balanced stratified sample: keep each row of stratum `l` with
    * probability `min_count / count(l)`, so every stratum's expected
    * sampled size equals the SMALLEST stratum's size.
    *
    * Selection is a deterministic hash coin: row kept iff
    * `md5Hash60(salt ':' id) mod 1e6 < floor(min_count·1e6 / count(l))`.
    * Pure integer arithmetic end-to-end (no floating-point rate, no RNG
    * state), so the sample is reproducible on any cluster layout, stable
    * under re-partitioning, and oracle-checkable.
    *
    * Shape at 100 TB: one aggregation for the stratum histogram (tiny),
    * broadcast back as an equi-join on the stratum key, then a codegen'd
    * hash filter — the corpus itself is scanned once and never shuffled.
    */
  def balancedSample(df: DataFrame, idCol: String, stratumCol: String,
      salt: String): DataFrame = {
    val counts = df.groupBy(stratumCol).count()
      .withColumn("__target", min("count").over(Window.partitionBy()))
      // 1e6-granular integer threshold: target·1e6 div count (exact
      // integer division — `div`, not `/`, which is DOUBLE in Spark SQL).
      .withColumn("__thresh", expr("(__target * 1000000L) div `count`"))
      .select(col(stratumCol), col("__thresh").cast("long").as("__thresh"))
    df.join(broadcast(counts), stratumCol)
      .filter(
        pmod(TextOps.md5Hash60(
          concat(lit(salt), lit(":"), col(idCol).cast("string"))),
          lit(1000000L)) < col("__thresh"))
      .drop("__thresh")
  }
}
