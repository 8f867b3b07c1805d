package graft

import org.apache.spark.sql.functions._

/** Dev-only scaling-slope harness (SCALING.md evidence): synthesize a
  * deterministic ~10× blow-up of the events/documents tables, then time
  * the suite's most expensive queries at sf0.1 and at 10× and report the
  * growth ratio per query.
  *
  * Blow-up model — more data, same distributional geometry:
  *  - events: 10 copies, each with a disjoint user-id block (new users,
  *    same per-user series shape — matching how a real corpus grows) and
  *    unique event ids.
  *  - documents: 10 copies with disjoint doc-id blocks; each copy k>0
  *    applies a per-copy character substitution so copies are NOT
  *    near-duplicates of each other — duplicate CLUSTERS multiply ~10×
  *    while cluster sizes stay constant. (Naive replication would grow
  *    each cluster 10× and its pair list 100×, which is a different —
  *    and unrealistic — scaling question.)
  * All other tables are symlinked unchanged.
  *
  * Usage: runMain graft.DevScaling [factor] [q1,q2,...]
  */
object DevScaling {

  val DefaultQueries: Seq[String] = Seq(
    "q125_dedup_apply", "q136_pagerank", "q105_winnowing",
    "q107_dedup_clusters", "q101_flagship_lsh", "q117_pipeline_e2e",
    "q177_pair_corr", "q102_decode_mse", "q127_bloom_decontam",
    "q60_flagship_mae")

  def buildBlowup(spark: org.apache.spark.sql.SparkSession, base: String,
      out: String, factor: Int): Unit = {
    val done = new java.io.File(out + "/_DONE")
    if (done.exists()) return
    new java.io.File(out).mkdirs()
    // events: disjoint user blocks, unique event ids, timestamps as-is.
    val ev = spark.read.parquet(base + "/events.parquet")
    (0 until factor).map { k =>
      ev.withColumn("user_id", col("user_id") + lit(k * 100000L))
        .withColumn("event_id", col("event_id") + lit(k * 1000000000L))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(out + "/events.parquet")
    // documents: disjoint doc blocks; copy k replaces 'e'/'a' with a
    // copy-UNIQUE character pair so cross-copy texts aren't
    // near-duplicates. k < 10 keeps the original digit mapping (so 10×
    // results stay comparable across rounds); k ≥ 10 switches to letter
    // pairs indexed by (k mod 10, k div 10) — unique up to k = 99, and
    // disjoint from the digit mappings (a naive k % 10 would make copies
    // 1/11/21 IDENTICAL text, growing cluster sizes instead of cluster
    // counts at factors > 10).
    val docs = spark.read.parquet(base + "/documents.parquet")
    (0 until factor).map { k =>
      val base0 = docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
      val sub =
        if (k < 10) s"${k % 10}${(k + 3) % 10}"
        else s"${"bcdfghjklm".charAt(k % 10)}${"npqrstvwxz".charAt((k / 10) % 10)}"
      if (k == 0) base0
      else base0.withColumn("text", translate(col("text"), "ea", sub))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(out + "/documents.parquet")
    // embeddings: disjoint vec-id AND label blocks; copy k rotates the
    // dimension order by k positions. Rotation preserves every
    // within-copy distance/cosine exactly while making cross-copy
    // vectors generically dissimilar, so copy k's vectors assign to
    // copy k's label-mean centroids: the CLUSTER COUNT grows with the
    // data (SemDeDup's own k ∝ N scaling knob) and cluster sizes stay
    // constant — pair work grows linearly, the realistic question.
    // (Naive replication would tie every copy to copy 0's centroids and
    // grow cluster sizes instead.)
    val emb = spark.read.parquet(base + "/embeddings.parquet")
    (0 until factor).map { k =>
      val r = k % 64
      val rotated = if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      emb.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("label", (col("label") + lit(k * 10)).cast("int"))
        .withColumn("embedding", rotated)
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(out + "/embeddings.parquet")
    // everything else: symlink the base tables.
    for (t <- Seq("customer", "supplier", "nation", "region", "part",
        "orders", "lineitem")) {
      val link = java.nio.file.Paths.get(out, t + ".parquet")
      if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(link,
          java.nio.file.Paths.get(base, t + ".parquet"))
    }
    done.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val factor = if (args.nonEmpty) args(0).toInt else 10
    val names = if (args.length > 1) args(1).split(",").toSeq else DefaultQueries
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_scale$factor"
    val spark = Session.get()
    buildBlowup(spark, base, out, factor)

    def warm(name: String, dir: String): (Double, Long) = {
      val fn = SparkEntry.queries(name)
      var rows = Cached.scope(fn(spark, dir).count()) // cold rep: JIT + file listing
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        rows = Cached.scope(fn(spark, dir).count())
        (System.nanoTime() - t0) / 1e9
      }
      (times.min, rows)
    }

    val results = names.map { n =>
      val (t1, r1) = warm(n, base)
      val (tN, rN) = warm(n, out)
      println(f"== $n%-24s base $t1%7.2f s ($r1%9d rows)   ${factor}x $tN%7.2f s ($rN%9d rows)   ratio ${tN / t1}%5.2f")
      (n, t1, r1, tN, rN)
    }
    val json = results.map { case (n, t1, r1, tN, rN) =>
      s""""$n":{"base_s":${f"$t1%.3f"},"base_rows":$r1,"x${factor}_s":${f"$tN%.3f"},"x${factor}_rows":$rN,"ratio":${f"${tN / t1}%.2f"}}"""
    }.mkString("{", ",", "}")
    println(s"== SCALING_JSON $json")
    spark.stop()
  }
}
