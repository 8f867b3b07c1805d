package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftExpressions.arraySqDiff
import org.apache.spark.storage.StorageLevel

/** Iterative clustering driven from the driver with O(iterations) tiny
  * actions — the loop discipline of the distributed tier of
  * [[graft.text.Dedup.connectedComponents]]: per-iteration state is a
  * persisted DataFrame, the driver sees only a change COUNT, and no
  * vector data ever leaves the executors. (k-means has no local tier;
  * the operators that do are dispatched by [[graft.LocalTier]].)
  */
object Clustering {

  /** Lloyd's k-means over an `array<double>` column.
    *
    * Seeds: the vectors of the `k` smallest `idCol` values
    * (deterministic; callers wanting k-means++ can pass pre-picked seed
    * rows through `seeds`). Each iteration broadcasts the k centroids,
    * re-assigns every vector to the nearest (squared L2, ties to the
    * lower cluster id — a codegen'd expression over the broadcast side),
    * recomputes centroids in one aggregation, and stops when no
    * assignment changed (or `maxIter`).
    *
    * Returns (assignments: idCol, cluster; centroids: cluster, c, n).
    * At 100 TB each iteration is one broadcast-join scan plus one
    * aggregation of k·dim partial sums — no shuffle of the corpus.
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIter: Int = 20, seeds: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val v = df.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def recenter(assign: DataFrame): DataFrame =
      v.join(assign, "__id")
        .select(col("__cl"), posexplode(col("__v")))
        .groupBy("__cl", "pos")
        .agg(avg("col").as("cv"), count(lit(1)).as("n"))
        .groupBy("__cl")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("__c"),
          first("n").as("n"))
    def assign(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy("__id").orderBy(col("__d2").asc, col("__cl").asc)
      v.crossJoin(broadcast(cents.select(col("__cl"), col("__c"))))
        .withColumn("__d2", arraySqDiff(col("__v"), col("__c")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("__id"), col("__cl"))
    }
    val seedRows = seeds.map(_.select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v")))
      .getOrElse(v.orderBy("__id").limit(k))
    var cents = seedRows.orderBy("__id")
      .withColumn("__cl", (row_number().over(Window.orderBy("__id")) - 1).cast("int"))
      .select(col("__cl"), col("__v").as("__c"), lit(1L).as("n"))
    var current = assign(cents).persist(StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      cents = recenter(current)
      val next = assign(cents).persist(StorageLevel.MEMORY_AND_DISK)
      // Change count: the ONLY thing the driver materializes. (Rename
      // before the join — both sides share lineage, and Spark's
      // ambiguous-self-join check rejects df("col") disambiguation.)
      changed = next.withColumnRenamed("__cl", "__cl_next")
        .join(current.withColumnRenamed("__cl", "__cl_prev"), "__id")
        .filter(col("__cl_next") =!= col("__cl_prev")).count()
      current.unpersist()
      current = next
      iter += 1
    }
    // Materialize BEFORE dropping the caches the plans lean on.
    val assignments = current.select(col("__id").as(idCol), col("__cl").as("cluster"))
      .localCheckpoint(true)
    val centroids = cents
      .select(col("__cl").as("cluster"), col("__c").as("c"), col("n"))
      .localCheckpoint(true)
    current.unpersist()
    v.unpersist()
    (assignments, centroids)
  }
}
