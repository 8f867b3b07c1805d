package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor scaffolding: random-hyperplane LSH and an
  * IVF-style coarse quantizer (public knowledge: Charikar 2002 SRP-LSH;
  * IVF from the FAISS literature).
  *
  * Both produce a bucket key column; the ANN query path then equi-joins on
  * the bucket key instead of cross-joining the corpus — the 100 TB path.
  * Brute-force remains in [[graft.ohlcv.Search.knnJoin]] as the exact
  * baseline / re-rank stage.
  */
object Lsh {

  /** Sign pattern of `planes` random hyperplane projections packed into a
    * long (bit i = sign of dot(v, plane_i)). `mat` is planes × dim.
    *
    * The projections come from the strict matrix–vector kernel
    * ([[graft.ohlcv.Encode.linearProject]]), so a too-short or
    * NULL-holding vector projects to NULL components. Each bit has no
    * otherwise-branch, so a NULL propagates through the OR and a NULL
    * signature never equi-joins: the malformed row drops out observably
    * instead of landing in a wrong bucket.
    */
  def hyperplaneSignature(vec: Column, mat: Array[Array[Double]]): Column = {
    val proj = graft.ohlcv.Encode.linearProject(vec, mat)
    mat.indices.map { i =>
      val d = proj.getItem(i)
      when(d >= 0, shiftleft(lit(1L), i)).when(d < 0, lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Attach an LSH bucket column to a vector table. */
  def withBucket(df: DataFrame, vecCol: String, planes: Int, dim: Int,
      seed: Long = 42L, outCol: String = "lsh_bucket"): DataFrame = {
    val mat = graft.ohlcv.Encode.randomProjectionMatrix(dim, planes, seed)
    df.withColumn(outCol,
      hyperplaneSignature(col(vecCol).cast("array<double>"), mat))
  }

  /** Bucketed approximate k-NN: queries join the corpus on the shared LSH
    * bucket, then per-query top-k within the collisions. Recall depends on
    * `planes` (fewer planes → bigger buckets → higher recall & cost);
    * multi-probe = union over several signatures with different seeds.
    */
  def approxKnn(corpus: DataFrame, queries: DataFrame, corpusId: String,
      corpusVec: String, queryId: String, queryVec: String, k: Int,
      metricName: String, planes: Int, dim: Int, seed: Long = 42L): DataFrame = {
    import graft.ohlcv.Search
    import org.apache.spark.sql.expressions.Window
    val c = withBucket(corpus, corpusVec, planes, dim, seed)
    val q = withBucket(queries, queryVec, planes, dim, seed)
      .select(col("lsh_bucket"), col(queryId), col(queryVec))
    val crossed = c.join(broadcast(q), Seq("lsh_bucket"))
      .withColumn("dist", Search.metric(metricName)(
        col(corpusVec).cast("array<double>"), col(queryVec).cast("array<double>")))
    val w = Window.partitionBy(queryId).orderBy(col("dist").asc, col(corpusId).asc)
    crossed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop(queryVec, "lsh_bucket")
  }

  /** IVF coarse assignment: nearest of `centroids` (nlist × dim literals)
    * by L2 — the partition key for an IVF index layout. Centroids come
    * from any clustering (e.g. MLlib KMeans on a sample); stored as plan
    * literals so assignment is a pure codegen'd expression.
    */
  def ivfAssign(vec: Column, centroids: Array[Array[Double]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit): _*)
      struct(
        aggregate(zip_with(vec, cl, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("d2"),
        lit(i).as("list"))
    }
    array_min(array(scored.toIndexedSeq: _*)).getField("list")
  }

  /** The `nprobe` nearest centroid lists for a query vector (struct sort
    * orders by distance then index, so ties break low-index first —
    * deterministic and oracle-mirrorable).
    */
  def ivfProbe(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val cl = array(c.map(lit): _*)
      struct(
        aggregate(zip_with(vec, cl, (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("d2"),
        lit(i).as("list"))
    }
    transform(slice(sort_array(array(scored.toIndexedSeq: _*)), 1, nprobe),
      s => s.getField("list"))
  }

  /** IVF-probed approximate k-NN: corpus vectors are pinned to their
    * nearest centroid's list; each query probes its `nprobe` nearest
    * lists and re-ranks the collisions exactly. The corpus side is an
    * equi-join on the list id — at 100 TB the lists are the partition
    * layout, so a query touches nprobe/nlist of the data.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, corpusId: String,
      corpusVec: String, queryId: String, queryVec: String, k: Int,
      metricName: String, centroids: Array[Array[Double]],
      nprobe: Int): DataFrame = {
    import graft.ohlcv.Search
    import org.apache.spark.sql.expressions.Window
    val c = corpus.withColumn("__list",
      ivfAssign(col(corpusVec).cast("array<double>"), centroids))
    val q = queries
      .withColumn("__probe", explode(
        ivfProbe(col(queryVec).cast("array<double>"), centroids, nprobe)))
      .select(col("__probe"), col(queryId), col(queryVec))
    val crossed = c.join(broadcast(q), col("__list") === col("__probe"))
      .withColumn("dist", Search.metric(metricName)(
        col(corpusVec).cast("array<double>"), col(queryVec).cast("array<double>")))
    val w = Window.partitionBy(queryId).orderBy(col("dist").asc, col(corpusId).asc)
    crossed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .drop(queryVec, "__list", "__probe")
  }
}
