package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The shared Profile/Bench measurement protocol at sf0.001. */
class ProfileSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withCounters[A](f: TaskCounters => A): A = {
    val counters = new TaskCounters
    spark.sparkContext.addSparkListener(counters)
    try f(counters) finally spark.sparkContext.removeSparkListener(counters)
  }

  test("q01 record: rows equal count(), positive cold/warm/task time, valid JSON") {
    val q = "q01_pricing_summary"
    val fn = SparkEntry.queries(q)
    val rec = withCounters(Profile.measure(spark, _, sf, q, fn))
    assert(rec.ok, rec.json)
    assert(rec.rows == fn(spark, sf).count())
    assert(rec.coldS > 0 && rec.warmMinS > 0 && rec.taskS > 0, rec.json)
    assert(rec.warmSpreadS >= 0 && rec.tasks.tasks > 0, rec.json)
    val js = new ObjectMapper().readTree(rec.json)
    Seq("query", "rows", "cold_s", "warm_min_s", "warm_spread_s", "task_s",
      "gc_s", "sched_delay_s", "tasks", "jobs", "shuffle_write_bytes", "spill_bytes",
      "persisted_after", "max_method_bytes").foreach(k => assert(js.has(k), s"record lacks $k"))
    assert(js.get("rows").asLong == rec.rows)
    assert(rec.tasks.jobs > 0 && js.get("jobs").asLong == rec.tasks.jobs, rec.json)
    // q01 aggregates in a codegen stage, so some method was compiled.
    assert(rec.maxMethodBytes > 0 && js.get("max_method_bytes").asInt == rec.maxMethodBytes)
    assert(!js.has("error"))
  }

  test("persisted_after counts a frame the query leaves behind; the next query starts clean") {
    val leaky: Profile.QueryFn = (s, d) => {
      val df = Tables.events(s, d).select("user_id").distinct().persist()
      df.count()
      df
    }
    val rec = withCounters(Profile.measure(spark, _, sf, "leaky", leaky, warmReps = 1))
    assert(rec.ok, rec.json)
    assert(rec.persistedAfter > 0, rec.json)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "measure left the query's persisted frame behind")
  }

  test("a failing query yields an error record with -1 timings, not an exception") {
    val failing: Profile.QueryFn = (_, _) => throw new IllegalStateException("bad \"plan\"\n")
    val rec = withCounters(Profile.measure(spark, _, sf, "failing", failing))
    assert(!rec.ok && rec.coldS == -1.0 && rec.warmMinS == -1.0)
    val js = new ObjectMapper().readTree(rec.json)
    assert(js.get("error").asText.startsWith("IllegalStateException: bad 'plan'"))
  }

  test("every Bench headline name is a registered query") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unregistered headline names: $missing")
  }
}
