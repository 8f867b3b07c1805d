package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{CodegenStats, ListenerBridge}

/** The one measurement protocol for registered queries, shared by this
  * main and [[Bench]]: a cold rep, then `warmReps` warm reps, each a
  * `count()` of the query's frame. A [[Rec]] carries the row count, the
  * cold wall, the fastest warm wall and the warm spread (max − min), the
  * [[TaskCounters]] deltas of the fastest warm rep (of the cold rep when
  * there are none), `persisted_after`: the persisted RDDs still
  * resident when the last rep ends (intra-query caches and leaks alike),
  * and `max_method_bytes`: the largest compiled whole-stage method of any
  * SQL execution the reps ran — past [[CodegenStats.HugeMethodLimit]]
  * that stage runs interpreted, and `tiers`: the last [[LocalTier]]
  * decision of each iterative operator the reps ran (`local` or
  * `distributed`, with its gauge).
  * Whatever the query left behind is then dropped, so the next query
  * starts from an empty cache.
  *
  * Usage, sf dir from SPARK_GRAFT_SF_DIR:
  * {{{
  *   tools/run_main.sh graft.Profile [--explain] q204_flagship_pca q206_exact_substr
  * }}}
  * prints one JSON record per query; `--explain` also prints each
  * query's formatted physical plan after its record.
  */
object Profile {
  type QueryFn = (SparkSession, String) => DataFrame

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  final case class Rec(query: String, rows: Long, coldS: Double,
      warmMinS: Double, warmSpreadS: Double, tasks: TaskCounters.Snap,
      persistedAfter: Int, maxMethodBytes: Int,
      tiers: Seq[(String, LocalTier.Decision)], error: String = null) {
    def ok: Boolean = error == null
    def taskS: Double = tasks.runMs / 1e3
    def json: String = {
      def s(v: Double) = f"$v%.3f"
      val err = if (ok) "" else s""","error":"$error""""
      s"""{"query":"$query","rows":$rows,"cold_s":${s(coldS)},""" +
        s""""warm_min_s":${s(warmMinS)},"warm_spread_s":${s(warmSpreadS)},""" +
        s""""task_s":${s(taskS)},"gc_s":${s(tasks.gcMs / 1e3)},""" +
        s""""sched_delay_s":${s(tasks.schedDelayMs / 1e3)},"tasks":${tasks.tasks},""" +
        s""""jobs":${tasks.jobs},""" +
        s""""shuffle_write_bytes":${tasks.shuffleWriteBytes},""" +
        s""""spill_bytes":${tasks.spillBytes},"persisted_after":$persistedAfter,""" +
        s""""max_method_bytes":$maxMethodBytes,""" +
        s""""tiers":{${tiers.map { case (op, d) => s""""$op":${d.json}""" }.mkString(",")}}$err}"""
    }
  }

  /** JSON-safe one-line error text. */
  private def sanitize(e: Throwable): String =
    String.valueOf(e.getClass.getSimpleName + ": " + e.getMessage)
      .replaceAll("[\\p{Cntrl}]", " ")
      .replace("\\", "\\\\").replace("\"", "'").take(120)

  def dropPersisted(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.sharedState.cacheManager.clearCache()
  }

  /** One untimed q01 run, so even a cold rep measures the query rather
    * than first-ever class loading and session start-up. */
  def warmUp(spark: SparkSession, sf: String): Unit = {
    SparkEntry.queries("q01_pricing_summary")(spark, sf).count()
    dropPersisted(spark)
  }

  def measure(spark: SparkSession, counters: TaskCounters, sf: String,
      name: String, fn: QueryFn, warmReps: Int = 2): Rec = {
    def rep(): (Long, Double, TaskCounters.Snap) = {
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      val before = counters.snapshot()
      val t0 = System.nanoTime()
      val rows = fn(spark, sf).count()
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      (rows, wall, counters.snapshot().minus(before))
    }
    LocalTier.drain()
    try {
      val ((cold, warm), maxMethodBytes) = CodegenStats.largestMethodDuring(spark) {
        val cold = rep()
        (cold, Seq.fill(warmReps)(rep()))
      }
      val best = if (warm.isEmpty) cold else warm.minBy(_._2)
      val spread = if (warm.isEmpty) 0.0 else warm.map(_._2).max - warm.map(_._2).min
      Rec(name, cold._1, cold._2, best._2, spread, best._3,
        spark.sparkContext.getPersistentRDDs.size, maxMethodBytes, LocalTier.drain())
    } catch {
      case e: Throwable =>
        Rec(name, -1L, -1.0, -1.0, -1.0, TaskCounters.Snap(0, 0, 0, 0, 0, 0, 0),
          spark.sparkContext.getPersistentRDDs.size, -1, LocalTier.drain(), sanitize(e))
    } finally dropPersisted(spark)
  }

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    require(flags.forall(_ == "--explain"), s"unknown flag in ${flags.mkString(" ")}")
    val explain = flags.nonEmpty
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val spark = Session.get()
    val counters = new TaskCounters
    spark.sparkContext.addSparkListener(counters)
    warmUp(spark, sfDir)
    fns.foreach { case (n, fn) =>
      println(measure(spark, counters, sfDir, n, fn).json)
      if (explain) {
        fn(spark, sfDir).explain("formatted")
        dropPersisted(spark)
      }
    }
    spark.stop()
  }
}
