package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals

/** Workload sizes. `full` is what the benchmark measures; `tiny` is the
  * self-test's size.
  *
  * `recallFloor` is the lowest share of planted near-dup pairs that must
  * end up in one cluster. Over 48 generated corpora at the full size recall
  * ranged 0.923–0.969 (mean 0.951, sd 0.011), over 30 at the tiny size
  * 0.891–0.986 (mean 0.94, sd 0.027); each floor is about 5 sd below the
  * mean.
  */
final case class Sizes(evalSymbols: Int, evalBars: Int, pages: Int, docs: Int, clusters: Int,
    clusterSize: Int, ccBudget: Int, recallFloor: Double)

object Sizes {
  val full = Sizes(evalSymbols = 1, evalBars = 3600, pages = 4, docs = 10000, clusters = 40,
    clusterSize = 30, ccBudget = 1 << 13, recallFloor = 0.90)
  val tiny = Sizes(evalSymbols = 1, evalBars = 3500, pages = 3, docs = 3000, clusters = 12,
    clusterSize = 12, ccBudget = 1 << 8, recallFloor = 0.80)
}

object Report {
  def line(name: String, v: Double, unit: String): String =
    s"${Json.str(name)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(unit)}}"
}

/** Runs one workload in one JVM on `local[4]`:
  *
  *  1. generate the inputs from the seed (not timed);
  *  2. start a session and run the workload's one-time preparation, seven
  *     times over, stopping the session in between (`setup_s` is the median);
  *  3. a warm-up pass (unless the workload's pass is long enough to skip
  *     it in an untraced run), then passes until `--seconds` have been
  *     measured;
  *  4. print a report line with every metric, then the result line.
  *
  * With `--trace 1` the measured passes alternate between tracing off and
  * on; per-layer metrics come from the traced passes and the tracing
  * overhead is the difference of the two medians.
  */
object Main {
  val SetupReps = 7

  val Layers: Seq[String] = Seq("ingest", "clean", "features", "windows", "encode", "search",
    "forecast", "exact", "minhash", "cc", "quality", "sample", "pack")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts("work"))
    val sizes = if (opts.getOrElse("size", "full") == "tiny") Sizes.tiny else Sizes.full
    val corrupt = opts.getOrElse("corrupt", "") == "topk"
    System.setProperty("graft.local.cc.max.edges", sizes.ccBudget.toString)

    val workload: Workload = workloadName match {
      case "forecast_eval" =>
        new ForecastEval(seed, sizes.evalSymbols, sizes.evalBars, sizes.pages, corrupt)
      case "corpus_prep" =>
        new CorpusPrep(seed, sizes.docs, sizes.clusters, sizes.clusterSize, sizes.recallFloor)
      case other => sys.error(s"unknown workload $other")
    }
    val runId = s"$workloadName-$seed-${if (traced) "traced" else "untraced"}"
    val started = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench-time] $name at ${(System.nanoTime() - started) / 1e9}%.1f s")
    workload.generate(new File(work, "input"))
    phase("generated")

    // Set-up: session start plus the workload's one-time preparation.
    var spark: SparkSession = null
    val setupTimes = (1 to SetupReps).map { i =>
      if (spark != null) { workload.teardown(); spark.stop() }
      val (s, t) = Workload.timed {
        val s = graft.Session.get()
        workload.setup(s)
        s
      }
      spark = s
      t
    }

    phase("set up")
    val off = new Tracer(spark, enabled = false, runId)
    val on = if (traced) new Tracer(spark, enabled = true, runId) else off
    val all = mutable.ArrayBuffer.empty[Pass]
    // A traced run always warms up, so that both of its modes run warm.
    if (workload.warmup || traced) all += workload.pass(off, check = true) // checked, not timed

    phase("warmed up")
    val untracedPasses = mutable.ArrayBuffer.empty[Pass]
    val tracedPasses = mutable.ArrayBuffer.empty[(Pass, TracedPass)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = 0
    while (elapsed < seconds || untracedPasses.length < workload.minPasses ||
        (traced && tracedPasses.length < workload.minPasses)) {
      if (traced && i % 2 == 1) {
        on.beginPass()
        val p = on.span("pass")(workload.pass(on, check = true))
        tracedPasses += ((p, on.endPass()))
        all += p
      } else {
        val p = workload.pass(off, check = true)
        untracedPasses += p
        all += p
      }
      i += 1
    }

    phase("measured")
    val layerMetrics = if (traced) tracedMetrics(tracedPasses.toSeq, untracedPasses.toSeq) else Nil
    workload.teardown()
    val leaked = if (traced) {
      System.gc(); Thread.sleep(500)
      Internals.liveBlocks(spark)
    } else 0
    if (traced) {
      val out = new PrintWriter(new File(work, "spans.json"))
      try out.write(on.spansJson) finally out.close()
    }
    spark.stop()
    phase("stopped")

    val ops = all.flatMap(_.ops)
    val failures = ops.flatMap(_.failures)
    failures.take(20).foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    val measured = untracedPasses.toSeq
    val endToEnd = Seq(
      ("setup_s", Workload.median(setupTimes), "s"),
      ("wall_s", Workload.median(measured.map(_.seconds)), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val extra = workload.summary(measured) ++ Seq(
      ("failed_share", ops.count(!_.ok).toDouble / ops.length, "ratio"),
      ("passes", measured.length.toDouble, "count"))
    val metrics =
      if (traced) layerMetrics :+ (("run.leaked_blocks", leaked.toDouble, "count"))
      else endToEnd
    println("perfbench report: {" + (endToEnd ++ extra ++ (if (traced) metrics else Nil))
      .map { case (n, v, u) => Report.line(n, v, u) }.mkString(", ") + "}")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": ${ops.length}, """ +
      s""""failed": ${ops.count(!_.ok)}, "metrics": {""" +
      metrics.map { case (n, v, u) => Report.line(n, v, u) }.mkString(", ") + "}}")
  }

  /** Medians over the traced passes of every per-layer figure. */
  private def tracedMetrics(traced: Seq[(Pass, TracedPass)],
      untraced: Seq[Pass]): Seq[(String, Double, String)] = {
    def med(f: TracedPass => Double) = Workload.median(traced.map(t => f(t._2)))
    val perLayer = Layers.flatMap { l =>
      def get(f: LayerPass => Double): TracedPass => Double =
        t => t.layers.get(l).map(f).getOrElse(0.0)
      Seq(
        (s"$l.wall_s", med(get(_.wallS)), "s"),
        (s"$l.task_s", med(get(_.counters.taskS)), "s"),
        (s"$l.gc_s", med(get(_.counters.gcS)), "s"),
        (s"$l.sched_delay_s", med(get(_.counters.schedDelayS)), "s"),
        (s"$l.shuffle_write_mb", med(get(_.counters.shuffleWriteMb)), "MB"),
        (s"$l.spill_mb", med(get(_.counters.spillMb)), "MB"),
        (s"$l.rows_out", med(get(_.rowsOut.toDouble)), "count"),
        (s"$l.failed_tasks", med(get(_.counters.failedTasks.toDouble)), "count"))
    }
    val tracedWall = Workload.median(traced.map(_._1.seconds))
    val untracedWall = Workload.median(untraced.map(_.seconds))
    perLayer ++ Seq(
      ("search.pairs_per_result", "ratio"), ("minhash.precision", "ratio"),
      ("cc.rounds", "count"), ("cc.distributed", "count")).map { case (n, u) =>
      (n, med(_.extra.getOrElse(n, 0.0)), u)
    } ++ Seq(
      ("run.exchanges", med(_.exchanges.toDouble), "count"),
      ("run.sort_merge_joins", med(_.sortMergeJoins.toDouble), "count"),
      ("run.jobs", med(_.layers.values.map(_.counters.jobs.toDouble).sum), "count"),
      ("run.traced_wall_s", tracedWall, "s"),
      ("run.untraced_wall_s", untracedWall, "s"),
      ("run.trace_overhead_s", tracedWall - untracedWall, "s"))
  }

  /** The JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.trim.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
