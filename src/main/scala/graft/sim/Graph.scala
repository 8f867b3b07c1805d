package graft.sim

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CheckpointRelease
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.LocalTier

/** Distributed graph analytics over edge DataFrames.
  *
  * Companion to [[graft.text.Dedup.connectedComponents]] (cluster
  * detection): here PageRank scores rank nodes WITHIN a component — e.g.
  * picking the most-central duplicate as a cluster's keeper instead of
  * min-id. Both operators share the edge-list tier dispatch
  * ([[edgeTiers]]) and the min-label round ([[minLabelRound]]).
  */
object Graph {

  /** The symmetric distinct edge list (src, dst) of `pairs`, persisted
    * and counted once — the frame both tiers of CC and PageRank read —
    * and, when [[LocalTier]] takes the local tier for `tier`, its rows as
    * id pairs (the edges are then released). The local tier needs BIGINT
    * ids and no null id; otherwise the persisted edges are left to the
    * caller's distributed loop, which unpersists them.
    */
  private[graft] def edgeTiers(tier: LocalTier.Tier, pairs: DataFrame,
      a: String, b: String): (DataFrame, Option[Array[(Long, Long)]]) = {
    val edges = pairs.select(col(a).as("src"), col(b).as("dst"))
      .union(pairs.select(col(b).as("src"), col(a).as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = edges.count()
    val local =
      if (Seq(a, b).exists(c => pairs.schema(c).dataType != LongType)) None
      else LocalTier.collect(tier, edges)(LocalTier.Gauge(n)) { rows =>
        if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
          System.err.println(s"[${tier.op}] NOTE: edge list contains null " +
            "ids — distributed loop")
          None
        } else Some(rows.map(r => (r.getLong(0), r.getLong(1))))
      }
    if (local.isDefined) edges.unpersist(false)
    (edges, local)
  }

  /** A local tier's (id, `valueCol`) BIGINT result as a LocalRelation, so
    * downstream joins broadcast it instead of shuffling. */
  private[graft] def idFrame(s: SparkSession, rows: Array[(Long, Long)],
      valueCol: String): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField(valueCol, LongType)))
    val out = new java.util.ArrayList[Row](rows.length)
    rows.foreach { case (id, v) => out.add(Row(id, v)) }
    s.createDataFrame(out, schema)
  }

  /** One min-label round: every vertex takes the least of its own label
    * and its in-neighbours' — edges(src, dst) ⋈ labels(id, `label`) on
    * src, min label by dst, then `least(label, coalesce(nmin, label))`.
    * Returns (id, `label`, __old = the label before the round), so a
    * caller counts changes with a filter on the frame it materializes
    * anyway instead of a second join.
    */
  private[graft] def minLabelRound(edges: DataFrame, labels: DataFrame,
      label: String): DataFrame = {
    val nmin = edges
      .join(labels.select(col("id").as("src"), col(label)), "src")
      .groupBy(col("dst").as("id"))
      .agg(min(label).as("__nmin"))
    labels.join(nmin, Seq("id"), "left")
      .select(col("id"),
        least(col(label), coalesce(col("__nmin"), col(label))).as(label),
        col(label).as("__old"))
  }

  /** Local tier: the same integral recurrence over a collected edge
    * list — LocalTierParitySpec pins local ≡ distributed.
    */
  private[graft] def pageRankLocal(edgesIn: Array[(Long, Long)],
      iters: Int): Array[(Long, Long)] = {
    import scala.collection.mutable
    val und = edgesIn.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val deg = mutable.HashMap.empty[Long, Long]
    und.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0L) + 1L) }
    val n = deg.size.toLong
    if (n == 0) return Array.empty
    val base = 150000000L / n
    var ranks = mutable.HashMap.empty[Long, Long]
    deg.keysIterator.foreach(k => ranks.update(k, 1000000000L / n))
    for (_ <- 1 to iters) {
      val next = mutable.HashMap.empty[Long, Long]
      und.foreach { case (s, dst) =>
        // mirror the distributed inner join: a src absent from the rank
        // table contributes nothing (unreachable on symmetric edges, but
        // the mirror is exact on any input)
        ranks.get(s).foreach { r =>
          next.update(dst, next.getOrElse(dst, 0L) + r / deg(s))
        }
      }
      ranks = next.map { case (k, sum) => k -> (base + (85L * sum) / 100L) }
    }
    ranks.toArray
  }

  /** Fixed-point PageRank (Brin & Page 1998) over an undirected edge
    * list, damping 0.85, `iters` power iterations.
    *
    * Determinism by construction: ranks are 1e-9-unit fixed-point LONGS
    * and every step is integral —
    * `r₀ = 1e9 div n`,
    * `rₜ₊₁(v) = 15e7 div n + (85 · Σ_{u→v} (rₜ(u) div deg(u))) div 100` —
    * so the result is bit-identical regardless of aggregation order,
    * partitioning, or engine (float PageRank would drift by summation
    * order). The div-truncation loss (< deg·1e-9 per node per step) is
    * far below any ranking-relevant difference.
    *
    * Shape at 100 TB: `deg` and the undirected edge list persist across
    * iterations; each iteration is one equi-join of edges against the
    * (nodes-sized) rank table plus one hash aggregation on dst — the
    * standard Pregel-style plan. Only `n` (node count) reaches the
    * driver.
    *
    * Output: (id, r) for every node with ≥ 1 edge; Σr ≈ 1e9.
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int): DataFrame = {
    val (und, local) = edgeTiers(LocalTier.Pr, edges, srcCol, dstCol)
    local match {
      case Some(arr) => idFrame(edges.sparkSession, pageRankLocal(arr, iters), "r")
      case None => pageRankDistributed(edges.sparkSession, und, iters)
    }
  }

  /** The distributed Pregel-style loop over the materialized undirected
    * edge list — the 100 TB tier, unchanged semantics. Unpersists `und`
    * before returning.
    */
  private[graft] def pageRankDistributed(s: SparkSession, und: DataFrame,
      iters: Int): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg")).persist(lvl)
    val n = deg.count()
    if (n == 0) {
      und.unpersist(); deg.unpersist()
      return s.emptyDataFrame
        .withColumn("id", lit(0L)).withColumn("r", lit(0L)).limit(0)
    }
    val base = 150000000L / n
    var ranks = deg.select(col("src").as("id"), lit(1000000000L / n).as("r"))
    for (_ <- 1 to iters) {
      // Truncate lineage each iteration: a single lazy plan of k chained
      // join+agg stages makes Catalyst re-optimize a plan that doubles
      // in depth every round — fine at 5 iterations, pathological at 50.
      // The checkpointed frame is nodes-sized; results are unchanged
      // (every step is exact integer arithmetic).
      val next = und
        .join(ranks, und("src") === ranks("id"))
        .join(deg, "src")
        .select(col("dst"), expr("r div deg").as("__c"))
        .groupBy("dst")
        .agg(sum("__c").as("__s"))
        .select(col("dst").as("id"),
          (lit(base) + expr("(85 * __s) div 100")).as("r"))
        .localCheckpoint(true)
      // The superseded round is dead once its successor is materialized;
      // release its blocks now rather than at GC (no-op on the first
      // round's projection of `deg`).
      CheckpointRelease.release(ranks)
      ranks = next
    }
    und.unpersist()
    deg.unpersist()
    ranks
  }
}
