package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.storage.StorageLevel

/** Task counters summed per job group. The tracer tags every job a layer
  * runs with `setJobGroup(layer)`, so a group is a layer.
  */
final class LayerCounters {
  var jobs = 0L
  var taskS = 0.0
  var gcS = 0.0
  var schedDelayS = 0.0
  var shuffleWriteMb = 0.0
  var spillMb = 0.0
  var failedTasks = 0L

  def copy(): LayerCounters = {
    val c = new LayerCounters
    c.jobs = jobs; c.taskS = taskS; c.gcS = gcS; c.schedDelayS = schedDelayS
    c.shuffleWriteMb = shuffleWriteMb; c.spillMb = spillMb; c.failedTasks = failedTasks
    c
  }

  def minus(o: LayerCounters): LayerCounters = {
    val c = new LayerCounters
    c.jobs = jobs - o.jobs; c.taskS = taskS - o.taskS; c.gcS = gcS - o.gcS
    c.schedDelayS = schedDelayS - o.schedDelayS
    c.shuffleWriteMb = shuffleWriteMb - o.shuffleWriteMb
    c.spillMb = spillMb - o.spillMb; c.failedTasks = failedTasks - o.failedTasks
    c
  }
}

/** Listener registered by the benchmark (never by the program): maps each
  * stage to the job group of the job that submitted it and sums task
  * metrics per group. Scheduler delay uses the web-UI formula.
  */
final class LayerListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map.empty[String, LayerCounters]

  private def counters(g: String): LayerCounters = groups.getOrElseUpdate(g, new LayerCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.NoGroup)
    e.stageIds.foreach(stageGroup.put(_, g))
    counters(g).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrDefault(e.stageId, LayerListener.NoGroup))
    if (!e.taskInfo.successful) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskS += m.executorRunTime / 1e3
      c.gcS += m.jvmGCTime / 1e3
      val overhead = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      val gettingResult = if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L
      c.schedDelayS += math.max(0L, e.taskInfo.duration - overhead - gettingResult) / 1e3
      c.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / 1048576.0
      c.spillMb += m.diskBytesSpilled / 1048576.0
    }
  }

  def snapshot(): Map[String, LayerCounters] = synchronized {
    groups.map { case (k, v) => k -> v.copy() }.toMap
  }
}

object LayerListener {
  val NoGroup = "(none)"
}

/** One span: a layer call, an op or a pass. `parent` is the index of the
  * enclosing span in the run's span list, -1 at the top.
  */
final case class Span(name: String, startNs: Long, endNs: Long, parent: Int, runId: String)

/** Per-layer figures of one traced pass. */
final class LayerPass {
  var wallS = 0.0
  var rowsOut = 0L
  var counters = new LayerCounters
}

/** Everything a traced pass recorded: per-layer figures, the extra
  * counters and ratios, and the plan shape of the layer outputs.
  */
final case class TracedPass(layers: Map[String, LayerPass], extra: Map[String, Double],
    exchanges: Int, sortMergeJoins: Int)

/** Spans, job groups and plan cuts at the layer boundaries.
  *
  * With tracing off every helper runs its body unchanged: the plan stays
  * lazy end to end and nothing is recorded. With tracing on, `cut`
  * persists and counts a layer's output frame inside a span tagged through
  * `setJobGroup(layer)`, so each layer's work runs in its own jobs; the
  * listener attributes task metrics to the layer, and the executed plan of
  * the persisted frame gives the layer's exchanges and sort-merge joins.
  */
final class Tracer(val spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val held = mutable.ArrayBuffer.empty[DataFrame]
  private val listener = new LayerListener
  if (enabled) spark.sparkContext.addSparkListener(listener)

  // Per-pass accumulators, reset by beginPass.
  private val wall = mutable.Map.empty[String, Double]
  private val rows = mutable.Map.empty[String, Long]
  private val extra = mutable.Map.empty[String, Double]
  private var exchanges = 0
  private var sortMergeJoins = 0
  private var passStart: Map[String, LayerCounters] = Map.empty

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val idx = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(name, System.nanoTime(), 0L, parent, runId)
    stack = idx :: stack
    try body
    finally {
      stack = stack.tail
      val s = spans(idx).copy(endNs = System.nanoTime())
      spans(idx) = s
      wall(name) = wall.getOrElse(name, 0.0) + (s.endNs - s.startNs) / 1e9
    }
  }

  private def grouped[T](layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(layer, layer)
    try body finally sc.clearJobGroup()
  }

  /** Run an action-shaped layer (a fit, a write, a collect). */
  def act[T](layer: String)(body: => T): T =
    span(layer)(if (enabled) grouped(layer)(body) else body)

  /** A frame-shaped layer: lazy when tracing is off; persisted, counted and
    * measured when it is on.
    */
  def cut(layer: String)(df: => DataFrame): DataFrame =
    if (!enabled) df
    else span(layer) {
      grouped(layer) {
        val d = df.persist(StorageLevel.MEMORY_AND_DISK)
        rows(layer) = rows.getOrElse(layer, 0L) + d.count()
        held += d
        noteShape(d)
        d
      }
    }

  /** Add a layer's row count measured outside `cut` (an eager layer). */
  def addRows(layer: String, n: Long): Unit =
    if (enabled) rows(layer) = rows.getOrElse(layer, 0L) + n

  /** Record the plan shape of a frame the program persisted itself. */
  def noteShape(d: DataFrame): Unit =
    if (enabled) Internals.cachedPlan(d).foreach { p =>
      val (e, s) = Internals.shape(p)
      exchanges += e
      sortMergeJoins += s
    }

  def noteExtra(name: String, v: Double): Unit = if (enabled) extra(name) = v

  def beginPass(): Unit = if (enabled) {
    wall.clear(); rows.clear(); extra.clear(); exchanges = 0; sortMergeJoins = 0
    Internals.drainListeners(spark)
    passStart = listener.snapshot()
  }

  /** What the pass just run recorded; per-layer figures keyed by layer name. */
  def endPass(): TracedPass = {
    releaseHeld()
    if (!enabled) TracedPass(Map.empty, Map.empty, 0, 0)
    else {
      Internals.drainListeners(spark)
      val now = listener.snapshot()
      val names = (wall.keySet ++ rows.keySet ++ now.keySet).filterNot(_ == LayerListener.NoGroup)
      val layers = names.map { n =>
        val lp = new LayerPass
        lp.wallS = wall.getOrElse(n, 0.0)
        lp.rowsOut = rows.getOrElse(n, 0L)
        lp.counters = now.getOrElse(n, new LayerCounters).minus(passStart.getOrElse(n, new LayerCounters))
        n -> lp
      }.toMap
      TracedPass(layers, extra.toMap, exchanges, sortMergeJoins)
    }
  }

  private def releaseHeld(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  def spansJson: String = spans.map { s =>
    s"""{"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
      s""""parent":${s.parent},"run_id":${Json.str(s.runId)}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
