package graft.text

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Cached

/** Training-batch assembly operators: deterministic train/val/test hash
  * split and GPT-style sequence packing (concatenate the token stream in
  * id order, chunk into fixed-budget batches).
  */
object Packing {

  /** Deterministic hash split: bucket = md5Hash60(text) % 100 (stable
    * across runs, machines and engines), split by cumulative percent
    * thresholds. The standard leakage-free alternative to random
    * sampling for corpus-scale train/val/test assignment.
    */
  def hashSplit(df: DataFrame, textCol: String, trainPct: Int = 90,
      valPct: Int = 5): DataFrame = {
    val bucket = pmod(TextOps.md5Hash60(col(textCol)), lit(100))
    df.withColumn("bucket", bucket.cast("long"))
      .withColumn("split",
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")))
  }

  /** The two-pass distributed exclusive prefix sum behind
    * [[packSequences]] and [[snakeShards]], WITHOUT the single-partition
    * global-window collapse. The (id, n_tokens) frame is materialized once,
    * then range-partitioned and sorted by `order` and materialized again;
    * each partition reports one tiny stats row (its `weight` total and its
    * first row's (n_tokens, id)), collected and prefix-summed with the
    * partitions ordered by `firstOrder` on that first row — partitions
    * hold disjoint ranges of `order`, so this recovers the global
    * partition order — and the offsets are broadcast; each partition then
    * streams once, emitting
    * (id, n_tokens, `outCol`) with `outCol` the sum of `weight` over all
    * earlier rows. Only #partitions values are collected, never rows.
    */
  private def exclusivePrefixSum(df: DataFrame, idCol: String, tokens: Column,
      order: Seq[Column], firstOrder: Ordering[(Long, Long)], weight: Row => Long,
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    // The upstream (q117: dedup + quality + sampling) runs once: the
    // narrow frame is checkpointed before the range shuffle, whose sampler
    // job and map stage would each re-run it. `base` is checkpointed so
    // both passes below see identical partition contents, which makes the
    // offset map correct by construction; the query's scope releases it.
    val narrow = Cached.checkpoint(df
      .select(col(idCol).cast("long").as("id"), tokens.cast("long").as("n_tokens")))
    val base = Cached.checkpoint(narrow
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*))
    Cached.release(narrow)
    // Pass 1: (partitionId, weight total, first n_tokens, first id).
    val partStats = base.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val first = rows.next()
        var s = weight(first)
        rows.foreach(r => s += weight(r))
        Iterator(new GenericRow(Array[Any](TaskContext.getPartitionId().toLong, s,
          first.getLong(1), first.getLong(0))): Row)
      }
    }(Encoders.row(StructType(Seq(
      StructField("pid", LongType), StructField("psum", LongType),
      StructField("ftok", LongType), StructField("fid", LongType))))).collect()
    val offsets: Map[Long, Long] = {
      var acc = 0L
      partStats.sortBy(r => (r.getLong(2), r.getLong(3)))(firstOrder).map { r =>
        val o = r.getLong(0) -> acc
        acc += r.getLong(1)
        o
      }.toMap
    }
    val bc = spark.sparkContext.broadcast(offsets)
    // Pass 2: stream each partition once, starting from its offset.
    base.mapPartitions { rows =>
      var cum = -1L
      rows.map { r =>
        if (cum < 0) cum = bc.value(TaskContext.getPartitionId().toLong)
        val out = new GenericRow(Array[Any](r.getLong(0), r.getLong(1), cum)): Row
        cum += weight(r)
        out
      }
    }(Encoders.row(StructType(Seq(
      StructField("id", LongType), StructField("n_tokens", LongType),
      StructField(outCol, LongType)))))
  }

  /** Sequence packing: documents ordered by `idCol` form one token
    * stream; each document is assigned the batch containing its first
    * token (`batch_id = ⌊exclusive-cumsum / budget⌋`) plus its offset in
    * that batch. The cumulative sum is [[exclusivePrefixSum]] over id
    * order, weighted by token count.
    */
  def packSequences(df: DataFrame, idCol: String, tokens: Column,
      budget: Long): DataFrame =
    exclusivePrefixSum(df, idCol, tokens, Seq(col("id")),
        Ordering.by[(Long, Long), Long](_._2), _.getLong(1), "cum_excl")
      .withColumn("batch_id", expr(s"cum_excl div $budget"))
      .withColumn("batch_offset", col("cum_excl") % budget)
      .select(col("id").as(idCol), col("n_tokens"), col("batch_id"), col("batch_offset"))

  /** Token-balanced shard assignment by folded ("snake") round-robin over
    * the size-descending order: rank documents by (n_tokens DESC, id),
    * then deal rank r to shard `r % S` on even passes and `S-1 - r % S`
    * on odd passes. The fold is the classic deterministic balancer: after
    * every 2S documents each shard has received exactly one large and one
    * small pick of the pass pair, so shard token totals differ by at most
    * a few document lengths regardless of the length distribution — and
    * the whole assignment is a pure function of the corpus, reproducible
    * across runs and engines (unlike greedy LPT, whose argmin depends on
    * float accumulation order).
    *
    * The global rank is [[exclusivePrefixSum]] over (n_tokens DESC, id),
    * each row weighing 1: no global window, no single-partition collapse.
    */
  def snakeShards(df: DataFrame, idCol: String, tokens: Column,
      numShards: Int): DataFrame = {
    val s = numShards.toLong
    exclusivePrefixSum(df, idCol, tokens, Seq(col("n_tokens").desc, col("id")),
        Ordering.by[(Long, Long), (Long, Long)] { case (tok, id) => (-tok, id) }, _ => 1L, "rk")
      .withColumn("shard",
        when(expr(s"(rk div $s) % 2") === 0, col("rk") % s)
          .otherwise(lit(s - 1) - col("rk") % s))
      .select(col("id").as(idCol), col("n_tokens"), col("shard"))
  }
}
