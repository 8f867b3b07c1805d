package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.{CodegenStats, ListenerBridge}
import graft.streaming.StreamHarness

/** The one measurement protocol for registered queries, shared by this
  * main and [[Bench]]: a cold rep, then `warmReps` warm reps, each a
  * `count()` of the query's frame inside its own [[Cached.scope]], so a
  * warm rep never reads an earlier rep's cache. A [[Rec]] carries the
  * run conditions (`master`, `shuffle_partitions`, `sf`), the row count,
  * the cold wall, the fastest warm wall and the warm spread (max − min),
  * the [[TaskCounters]] deltas of the fastest warm rep (of the cold rep
  * when there are none), `fit_hits`: the fits that rep read from
  * [[Fits]] instead of refitting, `persisted_after` and `cached_after`: the
  * persisted RDDs and the CacheManager entries still registered after the
  * last rep's scope closed, i.e. frames no scope owned (leaks),
  * `max_method_bytes`: the largest compiled whole-stage method of any
  * SQL execution the reps ran — past [[CodegenStats.HugeMethodLimit]]
  * that stage runs interpreted, `tiers`: the last [[LocalTier]]
  * decision of each iterative operator the reps ran (`local` or
  * `distributed`, with its gauge), and `stream`: where the micro-batch
  * time of that rep's streaming runs went ([[StreamHarness.Stats]]; `{}`
  * when it ran none).
  * Whatever a leaking query left behind is then dropped, so the next
  * query starts from an empty cache.
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

  final case class Rec(query: String, master: String, shufflePartitions: String,
      sf: String, rows: Long, coldS: Double,
      warmMinS: Double, warmSpreadS: Double, tasks: TaskCounters.Snap,
      fitHits: Long, persistedAfter: Int, cachedAfter: Int, maxMethodBytes: Int,
      tiers: Seq[(String, LocalTier.Decision)], stream: StreamHarness.Stats,
      error: String = null) {
    def ok: Boolean = error == null
    def taskS: Double = tasks.runMs / 1e3
    def json: String = {
      def s(v: Double) = f"$v%.3f"
      val err = if (ok) "" else s""","error":"$error""""
      s"""{"query":"$query","master":"$master",""" +
        s""""shuffle_partitions":$shufflePartitions,"sf":"$sf",""" +
        s""""rows":$rows,"cold_s":${s(coldS)},""" +
        s""""warm_min_s":${s(warmMinS)},"warm_spread_s":${s(warmSpreadS)},""" +
        s""""task_s":${s(taskS)},"gc_s":${s(tasks.gcMs / 1e3)},""" +
        s""""sched_delay_s":${s(tasks.schedDelayMs / 1e3)},"tasks":${tasks.tasks},""" +
        s""""jobs":${tasks.jobs},""" +
        s""""shuffle_write_bytes":${tasks.shuffleWriteBytes},""" +
        s""""spill_bytes":${tasks.spillBytes},"fit_hits":$fitHits,""" +
        s""""persisted_after":$persistedAfter,""" +
        s""""cached_after":$cachedAfter,""" +
        s""""max_method_bytes":$maxMethodBytes,""" +
        s""""tiers":{${tiers.map { case (op, d) => s""""$op":${d.json}""" }.mkString(",")}},""" +
        s""""stream":${stream.json}$err}"""
    }
  }

  /** JSON-safe one-line error text. */
  private def sanitize(e: Throwable): String =
    String.valueOf(e.getClass.getSimpleName + ": " + e.getMessage)
      .replaceAll("[\\p{Cntrl}]", " ")
      .replace("\\", "\\\\").replace("\"", "'").take(120)

  /** The guard against a leaking [[QueryFn]] (one that persists outside
    * [[Cached]]): drop every persisted RDD and cached plan, so its frames
    * cannot skew the next query. A no-op after a query whose scope owned
    * everything it made. */
  def dropPersisted(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.sharedState.cacheManager.clearCache()
  }

  /** One untimed q01 run, so even a cold rep measures the query rather
    * than first-ever class loading and session start-up. */
  def warmUp(spark: SparkSession, sf: String): Unit =
    Cached.scope(SparkEntry.queries("q01_pricing_summary")(spark, sf).count())

  def measure(spark: SparkSession, counters: TaskCounters, sf: String,
      name: String, fn: QueryFn, warmReps: Int = 2): Rec = {
    def rep(): (Long, Double, TaskCounters.Snap, Long, StreamHarness.Stats) = {
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      val before = counters.snapshot()
      val hitsBefore = Fits.hitCount
      StreamHarness.drainStats()
      val t0 = System.nanoTime()
      val rows = Cached.scope(fn(spark, sf).count())
      val wall = (System.nanoTime() - t0) / 1e9
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      (rows, wall, counters.snapshot().minus(before), Fits.hitCount - hitsBefore,
        StreamHarness.drainStats())
    }
    LocalTier.drain()
    def rec(rows: Long, cold: Double, warmMin: Double, spread: Double,
        tasks: TaskCounters.Snap, fitHits: Long, maxMethodBytes: Int,
        stream: StreamHarness.Stats, error: String = null) =
      Rec(name, spark.sparkContext.master, spark.conf.get("spark.sql.shuffle.partitions"),
        sf, rows, cold, warmMin, spread, tasks, fitHits,
        spark.sparkContext.getPersistentRDDs.size,
        ListenerBridge.cachedEntries(spark), maxMethodBytes,
        LocalTier.drain(), stream, error)
    try {
      val ((cold, warm), maxMethodBytes) = CodegenStats.largestMethodDuring(spark) {
        val cold = rep()
        (cold, Seq.fill(warmReps)(rep()))
      }
      val best = if (warm.isEmpty) cold else warm.minBy(_._2)
      val spread = if (warm.isEmpty) 0.0 else warm.map(_._2).max - warm.map(_._2).min
      rec(cold._1, cold._2, best._2, spread, best._3, best._4, maxMethodBytes, best._5)
    } catch {
      case e: Throwable =>
        rec(-1L, -1.0, -1.0, -1.0, TaskCounters.Snap(0, 0, 0, 0, 0, 0, 0), 0L, -1,
          StreamHarness.Stats(), sanitize(e))
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
      if (explain) Cached.scope(fn(spark, sfDir).explain("formatted"))
    }
    spark.stop()
  }
}
