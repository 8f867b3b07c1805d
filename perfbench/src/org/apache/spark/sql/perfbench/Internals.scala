package org.apache.spark.sql.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.{SparkPlan, ProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** The few engine internals the benchmark reads from outside the program:
  * draining the listener bus, counting cache entries, and walking the
  * executed plan behind a persisted frame. Lives under `org.apache.spark.sql`
  * only to reach those package-private members.
  */
object Internals {

  /** Block until every posted listener event has been delivered. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Persisted RDDs plus CacheManager entries currently alive. */
  def liveBlocks(spark: SparkSession): Int = {
    val entries = spark match {
      case c: classic.SparkSession => c.sharedState.cacheManager.numCachedEntries
      case _ => 0
    }
    spark.sparkContext.getPersistentRDDs.size + entries
  }

  /** The physical plan that materialized a persisted frame (the AQE final
    * plan once the frame has been counted), if `df` is cached.
    */
  def cachedPlan(df: DataFrame): Option[SparkPlan] = df match {
    case c: classic.Dataset[_] =>
      c.queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedPlan
      }
    case _ => None
  }

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  /** (shuffle exchanges, sort-merge joins) in a plan, not descending into
    * scans of other cached frames (those belong to the layer that made them).
    */
  def shape(p: SparkPlan): (Int, Int) = {
    val here = p match {
      case _: ShuffleExchangeLike => (1, 0)
      case _: SortMergeJoinExec => (0, 1)
      case _ => (0, 0)
    }
    kids(p).map(shape).foldLeft(here) { case ((e, s), (e2, s2)) => (e + e2, s + s2) }
  }

  /** Rows the distance column was computed on: the `numOutputRows` of the
    * nearest metered operator below the projection that introduces `distCol`.
    */
  def distanceInputRows(p: SparkPlan, distCol: String): Option[Long] = {
    def introduces(n: SparkPlan) = n.isInstanceOf[ProjectExec] &&
      n.output.exists(_.name == distCol) &&
      !kids(n).exists(_.output.exists(_.name == distCol))
    def metered(n: SparkPlan): Option[Long] =
      n.metrics.get("numOutputRows").map(_.value)
        .orElse(kids(n).iterator.map(metered).collectFirst { case Some(v) => v })
    def find(n: SparkPlan): Option[Long] =
      if (introduces(n)) kids(n).iterator.map(metered).collectFirst { case Some(v) => v }
      else kids(n).iterator.map(find).collectFirst { case Some(v) => v }
    find(p)
  }
}
