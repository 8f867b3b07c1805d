package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.graft.CodegenStats

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
    Seq("query", "master", "shuffle_partitions", "sf", "rows", "cold_s", "warm_min_s",
      "warm_spread_s", "task_s", "gc_s", "sched_delay_s", "tasks", "jobs",
      "shuffle_write_bytes", "spill_bytes", "fit_hits", "persisted_after", "cached_after",
      "max_method_bytes", "tiers").foreach(k => assert(js.has(k), s"record lacks $k"))
    assert(js.get("master").asText == spark.sparkContext.master)
    assert(js.get("shuffle_partitions").asInt ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(js.get("sf").asText == sf)
    // q01 runs no iterative operator and reads no stored fit
    assert(js.get("tiers").size == 0, rec.json)
    assert(rec.fitHits == 0 && js.get("fit_hits").asLong == 0, rec.json)
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

  test("tiers carries each iterative operator's tier decision and gauge") {
    val cc: Profile.QueryFn = (s, _) => {
      import s.implicits._
      graft.text.Dedup.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b"))
    }
    val rec = withCounters(Profile.measure(spark, _, sf, "cc", cc, warmReps = 1))
    assert(rec.ok, rec.json)
    val tiers = new ObjectMapper().readTree(rec.json).get("tiers")
    assert(tiers.size == 1, rec.json)
    assert(tiers.get("cc").get("tier").asText == "local", rec.json)
    assert(tiers.get("cc").get("gauge").asLong == 4L, rec.json)
  }

  test("fit_hits: q204's warm rep reads its stored fit, a refit reads none") {
    val q = "q204_flagship_pca"
    val fn = SparkEntry.queries(q)
    ExtraQueries.PcaMatrices.clear()
    val cold = withCounters(Profile.measure(spark, _, sf, q, fn, warmReps = 0))
    assert(cold.ok && cold.fitHits == 0, cold.json)
    val warm = withCounters(Profile.measure(spark, _, sf, q, fn, warmReps = 1))
    assert(warm.ok && warm.fitHits >= 1, warm.json)
    assert(new ObjectMapper().readTree(warm.json).get("fit_hits").asLong == warm.fitHits)
  }

  test("a failing query yields an error record with -1 timings, not an exception") {
    val failing: Profile.QueryFn = (_, _) => throw new IllegalStateException("bad \"plan\"\n")
    val rec = withCounters(Profile.measure(spark, _, sf, "failing", failing))
    assert(!rec.ok && rec.coldS == -1.0 && rec.warmMinS == -1.0)
    val js = new ObjectMapper().readTree(rec.json)
    assert(js.get("error").asText.startsWith("IllegalStateException: bad 'plan'"))
  }

  // Every frame a registered query caches or checkpoints belongs to the
  // rep's Cached scope: once the scope closes, no persisted RDD and no
  // CacheManager entry is left for the guard to drop.
  test("every registered query at sf0.001 leaves nothing persisted after its scope closes") {
    Profile.dropPersisted(spark) // what earlier suites left is not a query's leak
    val recs = withCounters { c =>
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
        Profile.measure(spark, c, sf, n, fn, warmReps = 0)
      }
    }
    assert(recs.size == SparkEntry.queries.size)
    val failed = recs.filterNot(_.ok).map(_.json)
    assert(failed.isEmpty, failed.mkString("\n"))
    val leaked = recs.filter(r => r.persistedAfter != 0 || r.cachedAfter != 0)
      .map(r => s"${r.query}: persisted_after=${r.persistedAfter} cached_after=${r.cachedAfter}")
    assert(leaked.isEmpty, leaked.mkString("\n"))
  }

  test("every Bench headline name is a registered query") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"unregistered headline names: $missing")
  }

  // q32's 4-plane LSH signature is evaluated once per row, below the
  // bucket join, so its whole-stage method stays JIT-sized. Evaluated a
  // second time in the join's inferred `isnotnull` filter, it made an
  // 8,296-byte method that HotSpot never compiles.
  test("q32_cos_neardup compiles every whole-stage method under HugeMethodLimit") {
    val q = SparkEntry.queries("q32_cos_neardup")
    val (rows, maxBytes) = CodegenStats.largestMethodDuring(spark)(q(spark, sf).collect())
    assert(rows.nonEmpty)
    assert(maxBytes > 0, "no whole-stage method was compiled")
    assert(maxBytes < CodegenStats.HugeMethodLimit, s"largest method $maxBytes bytes")
  }
}
