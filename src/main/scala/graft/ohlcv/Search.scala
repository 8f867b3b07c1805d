package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-distance expressions and k-NN search (reference
  * `notebooks/test.ipynb` cells 16–21: J3 similarity cross product, O2
  * top-k, F9–F11 metrics).
  *
  * All distances are higher-order-function expressions over array columns
  * — codegen'd, no UDF — evaluated in a single sequential pass per pair so
  * the floating-point operation order is deterministic (bit-for-bit
  * reproducible and oracle-comparable).
  */
object Search {

  /** Manhattan distance Σ|a−b| (F9, `torch.cdist(p=1)`) — native
    * codegen'd expression (same sequential order as the HOF form).
    */
  def l1(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.arrayL1(a, b)

  /** Euclidean distance √Σ(a−b)² (F9, `torch.cdist(p=2)`). */
  def l2(a: Column, b: Column): Column =
    sqrt(org.apache.spark.sql.graft.GraftExpressions.arraySqDiff(a, b))

  /** Dot product Σ a·b — the native codegen'd [[ArrayDot]] expression
    * (same sequential summation order as the HOF formulation and the
    * oracle's `list_dot_product`, but a primitive loop inside
    * whole-stage codegen).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.arrayDot(a, b)

  /** Cosine similarity (F10, `nn.CosineSimilarity`, eps guard 1e-8). */
  def cosine(a: Column, b: Column): Column = {
    val na = sqrt(dot(a, a))
    val nb = sqrt(dot(b, b))
    dot(a, b) / (greatest(na, lit(1e-8)) * greatest(nb, lit(1e-8)))
  }

  /** Split-vector weighted distance (F11): full weight on the first
    * `splitAt` components (μ half), `tailWeight` on the rest (log-var
    * half) — reference `test.ipynb:850-854`.
    */
  def weightedSplitL1(a: Column, b: Column, splitAt: Int, tailWeight: Double): Column =
    l1(slice(a, 1, splitAt), slice(b, 1, splitAt)) +
      lit(tailWeight) * l1(slice(a, splitAt + 1, 1 << 28), slice(b, splitAt + 1, 1 << 28))

  /** Split-vector weighted cosine distance (F11 cosine form,
    * `test.ipynb:874-878`): 1 − (cos(μ halves) + tailWeight·cos(logvar
    * halves)) / (1 + tailWeight).
    */
  def weightedSplitCosineDist(a: Column, b: Column, splitAt: Int,
      tailWeight: Double): Column = {
    val headCos = cosine(slice(a, 1, splitAt), slice(b, 1, splitAt))
    val tailCos = cosine(slice(a, splitAt + 1, 1 << 28), slice(b, splitAt + 1, 1 << 28))
    lit(1.0) - (headCos + lit(tailWeight) * tailCos) / (1.0 + tailWeight)
  }

  /** Distance column by metric name ("l1" | "l2" | "cosine_dist" | "dot"). */
  def metric(name: String)(a: Column, b: Column): Column = name match {
    case "l1" => l1(a, b)
    case "l2" => l2(a, b)
    case "cosine_dist" => lit(1.0) - cosine(a, b) // smaller = closer
    case "dot" => -dot(a, b)
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** Batch k-NN: for every query row, the k nearest corpus rows.
    *
    * Physical shape (the 100 TB plan): the query side is explicitly
    * `broadcast()` — Catalyst executes the cross product as a
    * BroadcastNestedLoopJoin, so the (huge) corpus is scanned exactly once,
    * partition-parallel, with zero shuffle of corpus rows; the per-query
    * top-k then shuffles only `numQueries × partitions × k` candidate rows.
    * Ties on distance break by corpus id for determinism.
    *
    * @param corpus   (idCol, vecCol, …) — arbitrarily large
    * @param queries  (qidCol, qvecCol)  — must fit in a broadcast
    */
  def knnJoin(corpus: DataFrame, queries: DataFrame, corpusId: String,
      corpusVec: String, queryId: String, queryVec: String, k: Int,
      metricName: String, distCol: String = "dist"): DataFrame = {
    val q = broadcast(queries.select(col(queryId), col(queryVec)))
    val crossed = corpus.crossJoin(q)
      .withColumn(distCol, metric(metricName)(col(corpusVec), col(queryVec)))
    // Partial top-k before the shuffle: rank within each corpus partition
    // would need mapPartitions state; the window below already gets
    // partial aggregation from AQE's local-topK (TakeOrdered per partition
    // is applied by rank pushdown in Spark 4 WindowGroupLimit).
    val w = Window.partitionBy(queryId).orderBy(col(distCol).asc, col(corpusId).asc)
    crossed
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop(queryVec)
  }
}
