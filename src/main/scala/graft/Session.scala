package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory with the engine's scale-oriented defaults.
  *
  * Tuned for correctness parity with the DuckDB oracle (UTC session time
  * zone) and for the local[32] harness (32 shuffle partitions, AQE on).
  * On a real cluster the same settings hold: AQE re-plans shuffle
  * partition counts at runtime, so a static 32 here is only the floor.
  */
object Session {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // UI plan descriptions default to EXPLAIN FORMATTED, whose
      // operator-ID walk is superlinear in plan-tree size and runs on
      // EVERY AQE re-plan — on q293-sized composed plans at the 100×
      // octave the driver burned an hour inside ExplainUtils (jstack-
      // attributed, round 16) while executors idled. The UI is disabled
      // here anyway; keep the cheap simple form for listeners.
      .config("spark.sql.ui.explainMode", "simple")
      // ... and bound the plan-string builder outright: AQE's
      // onUpdatePlan re-renders the plan string per stage with a
      // near-unbounded default cap, and a deeply-composed plan kept the
      // driver in StringConcat growth (jstack, round 16). 1 MiB is
      // plenty for any human-read plan.
      .config("spark.sql.maxPlanStringLength", "1048576")
      // events.parquet stores INT64 TIMESTAMP(NANOS) which Spark rejects
      // by default; read the raw nanos as LongType and convert in
      // Tables.events (sub-microsecond parts are zero in this corpus).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Read parquet isAdjustedToUTC=false timestamps as plain TIMESTAMP
      // (session TZ is pinned UTC, so semantics match the DuckDB oracle's
      // naive timestamps) — keeps unix_timestamp & friends uniform.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Checkpoint release (`Cached.release` and a `Cached.scope`'s close)
    // unpersists locally-checkpointed RDDs on purpose, after their last
    // consumer — Spark warns on every such unpersist
    // ("lineage has been truncated and cannot be recomputed"), hundreds
    // of lines per run that drowned the driver's tail capture in r16.
    // The warning is correct-but-expected here; silence just the RDD
    // package's logger, nothing else.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    // graft_dot / graft_l1 / graft_sqdiff available to SQL users.
    org.apache.spark.sql.graft.GraftExpressions.register(s)
    s
  }
}
