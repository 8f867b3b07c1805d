package graft.text

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class PackingSpec extends SparkSpec {
  import spark.implicits._

  test("packSequences matches a single-partition window cumsum") {
    val docs = (1L to 200L).map(i => (i, "tok " * (i % 17 + 1).toInt))
      .toDF("doc_id", "text")
      .repartition(7) // deliberately scrambled input partitioning
    val packed = Packing.packSequences(docs, "doc_id",
      TextOps.tokenCount(col("text")), budget = 64L)
      .orderBy("doc_id")
      .select("doc_id", "batch_id", "batch_offset")
      .as[(Long, Long, Long)].collect()
    val w = Window.orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = docs
      .withColumn("n", TextOps.tokenCount(col("text")).cast("long"))
      .withColumn("cum", coalesce(sum("n").over(w), lit(0L)))
      .orderBy("doc_id")
      .select(col("doc_id"), expr("cum div 64"), col("cum") % 64)
      .as[(Long, Long, Long)].collect()
    assert(packed.toSeq == expected.toSeq)
  }

  test("packSequences: batch ids are contiguous from zero") {
    val docs = (1L to 50L).map(i => (i, "a b c d e")).toDF("doc_id", "text")
    val ids = Packing.packSequences(docs, "doc_id",
      TextOps.tokenCount(col("text")), budget = 10L)
      .select("batch_id").distinct().as[Long].collect().sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
  }

  test("packSequences computes its upstream once per row") {
    // Before the narrow (id, n_tokens) checkpoint, repartitionByRange's
    // sampler job re-ran the upstream and this counted 2 per row.
    val rows = spark.sparkContext.longAccumulator("upstream rows")
    val docs = (1L to 300L).map(i => (i, "tok " * (i % 13 + 1).toInt))
      .toDF("doc_id", "text")
      .repartition(5)
      .map { r => rows.add(1); (r.getLong(0), r.getString(1)) }
      .toDF("doc_id", "text")
    val packed = Packing.packSequences(docs, "doc_id",
      TextOps.tokenCount(col("text")), budget = 64L).collect()
    assert(packed.length == 300)
    assert(rows.value == 300L, s"the upstream ran ${rows.value} times for 300 rows")
  }

  test("hashSplit: deterministic buckets, split fractions roughly honored") {
    val docs = (1L to 500L).map(i => (i, s"document number $i with words"))
      .toDF("doc_id", "text")
    val out = Packing.hashSplit(docs, "text")
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts("train") > 400 && counts("train") < 480)
    assert(counts.values.sum == 500)
    // rerun identical
    val again = Packing.hashSplit(docs, "text").select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    val first = out.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(again == first)
  }
}
