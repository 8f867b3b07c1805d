package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness tables (`/root/testdata/sf*`; see TESTDATA.md).
  *
  * All loads are plain `spark.read.parquet` so Catalyst retains full
  * pushdown/pruning freedom; no caching here — the 100 TB posture is that
  * a table never fits in memory, so operators must be correct on cold
  * scans and callers opt into `Cached.persist` only for genuinely small
  * frames.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `ts` is INT64 TIMESTAMP(NANOS) in the file; with
    * `spark.sql.legacy.parquet.nanosAsLong` it arrives as LongType nanos —
    * convert to TimestampType (micros; corpus has no sub-micro parts).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // Integer `div`, NOT `/`: Spark's `/` on longs is DOUBLE division,
      // and epoch-nanos exceed 2^53 — the double round-trip lands ±1 µs
      // off the true truncation for ~10% of rows (caught by the q121/q122
      // oracles, which surface raw µs values).
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
