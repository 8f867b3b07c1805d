package graft

/** Dev-only (round-18, VERDICT r17 #2): measure the DISTRIBUTED tier of
  * the local-tier operators at sf0.1 and at a 30× blow-up, so the 100 TB
  * code path stays pinned in SCALING.md even though the bench-scale runs
  * all take the local tier. Forces the distributed dispatch by setting
  * every [[LocalTier]] budget to 0.
  *
  * Usage: runMain graft.DevForcedScale [factor]
  */
object DevForcedScale {
  private val Names = Seq("q107_dedup_clusters", "q221_bpe_train",
    "q260_bpe_phrase_1k", "q136_pagerank", "q287_quality_classifier")
  private val Props = LocalTier.All.map(_.prop)

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(30)
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_scale$factor"
    val spark = Session.get()
    DevScaling.buildBlowup(spark, base, out, factor)
    SparkEntry.queries("q01_pricing_summary")(spark, base).count()
    def time(name: String, dir: String): Double = {
      ClassifierQueries.ClfFit.clear()
      val t0 = System.nanoTime()
      Cached.scope(SparkEntry.queries(name)(spark, dir).count())
      (System.nanoTime() - t0) / 1e9
    }
    def withForced[A](f: => A): A = {
      Props.foreach(p => sys.props(p) = "0")
      try f finally Props.foreach(sys.props.remove)
    }
    Names.foreach { n =>
      val lb = time(n, base)
      val fb = withForced { time(n, base) }
      val lg = time(n, out)
      val fg = withForced { time(n, out) }
      println(f"== $n local_base=$lb%.2f forced_base=$fb%.2f " +
        f"local_${factor}x=$lg%.2f forced_${factor}x=$fg%.2f " +
        f"forced_ratio=${fg / fb}%.2f")
    }
    spark.stop()
  }
}
