package graft.sim

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dense brute-force similarity kernels with a block-nested-loop physical
  * shape: one side is broadcast as a plain JVM array and each corpus
  * partition streams through tight scalar loops (the Spark analog of a
  * BLAS GEMM tile). ~50× faster than per-pair higher-order-function
  * expressions, with identical floating-point operation order (sequential
  * dot products), so results stay bit-compatible with the SQL oracle.
  *
  * Scale posture: the broadcast side must fit in executor memory (a few
  * hundred MB = millions of vectors); beyond that, LSH/IVF bucketing
  * ([[Lsh]]) is the path — these kernels then run per bucket.
  */
object Knn {

  private case class Vec(id: Long, v: Array[Double], norm: Double)

  private def collectVecs(df: DataFrame, idCol: String, vecCol: String): Array[Vec] = {
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map { r =>
        val arr = r.getSeq[Double](1).toArray
        var s = 0.0
        var i = 0
        while (i < arr.length) { s += arr(i) * arr(i); i += 1 }
        Vec(r.getLong(0), arr, math.max(math.sqrt(s), 1e-8))
      }
      .sortBy(_.id)
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** All pairs (id_a < id_b) with cosine similarity ≥ threshold.
    * Output: (id_a, id_b, cos_sim) where cos = dot/(max(|a|,1e-8)·max(|b|,1e-8)).
    *
    * `private[graft]`: this kernel collects the WHOLE corpus to the
    * driver for the broadcast tile, so it is only safe when the caller
    * has already bounded the input (a test fixture, or one LSH/IVF
    * bucket). External callers get [[cosinePairsBucketed]], whose
    * broadcast side is a single bucket by construction — there is no
    * public path to a whole-corpus collect.
    */
  private[graft] def cosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(collectVecs(df, idCol, vecCol))
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType),
      StructField("cos_sim", DoubleType)))
    val left = df.select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    left.mapPartitions { rows =>
      val corpus = bc.value
      rows.flatMap { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Double](1).toArray
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val nrm = math.max(math.sqrt(s), 1e-8)
        corpus.iterator
          .filter(_.id > id)
          .map(b => (b, dot(v, b.v) / (nrm * b.norm)))
          .filter(_._2 >= threshold)
          .map { case (b, c) =>
            new org.apache.spark.sql.catalyst.expressions.GenericRow(
              Array[Any](id, b.id, c)): Row
          }
      }
    }(Encoders.row(schema))
  }

  /** The scale-safe composition of the pair kernel: cosine pairs WITHIN
    * each bucket of `bucketCol` (an LSH band, IVF cell, or any blocking
    * key). Each bucket's members gather into one aggregation row and the
    * tight tile loop runs inside that row — per-task memory is bounded
    * by the largest bucket, never the corpus. A pair sharing several
    * buckets computes the identical float (same sequential dot order),
    * so the final `dropDuplicates` is exact, not approximate.
    *
    * Output: (id_a, id_b, cos_sim) with id_a < id_b, deduplicated
    * across buckets.
    */
  def cosinePairsBucketed(df: DataFrame, idCol: String, vecCol: String,
      bucketCol: String, threshold: Double): DataFrame = {
    val schema = StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType),
      StructField("cos_sim", DoubleType)))
    val grouped = df
      .select(col(bucketCol).as("__bucket"),
        struct(col(idCol).cast("long").as("id"),
          col(vecCol).cast("array<double>").as("v")).as("__m"))
      .groupBy("__bucket").agg(collect_list("__m").as("__ms"))
      .select("__ms")
    grouped.mapPartitions { rows =>
      rows.flatMap { r =>
        val ms = r.getSeq[Row](0).iterator.map { m =>
          val arr = m.getSeq[Double](1).toArray
          var s = 0.0
          var i = 0
          while (i < arr.length) { s += arr(i) * arr(i); i += 1 }
          Vec(m.getLong(0), arr, math.max(math.sqrt(s), 1e-8))
        }.toArray.sortBy(_.id)
        for {
          i <- ms.indices.iterator
          j <- (i + 1 until ms.length).iterator
          c = dot(ms(i).v, ms(j).v) / (ms(i).norm * ms(j).norm)
          if c >= threshold
        } yield new org.apache.spark.sql.catalyst.expressions.GenericRow(
          Array[Any](ms(i).id, ms(j).id, c)): Row
      }
    }(Encoders.row(schema))
      .dropDuplicates("id_a", "id_b")
  }
}
