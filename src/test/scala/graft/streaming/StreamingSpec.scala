package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SparkSpec

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def writeBatch(dir: String, rows: Seq[(Long, Timestamp, Long, Double)]): Unit =
    rows.toDF("event_id", "ts", "user_id", "value")
      .coalesce(1).write.mode("append").parquet(dir)

  test("StreamHarness.sourceDir links part-files of a Spark-written table directory") {
    val base = Files.createTempDirectory("graft_dirtable").toString
    (1L to 5L).map(i => (i, i * 2.0)).toDF("k", "v")
      .repartition(2).write.parquet(base + "/t.parquet")
    val src = StreamHarness.sourceDir(base, "t")
    assert(spark.read.parquet(src).count() == 5)
    val schema = StreamHarness.sourceSchema(spark, base, "t")
    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream.format("memory").queryName("dirtable_out")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000)); q.stop()
    assert(spark.table("dirtable_out").count() == 5)
  }

  test("concurrent runMemory calls restore the session shuffle partitions") {
    // Lost-restore race: lane B reading `prev` after lane A's override
    // would pin the session at the override after both restores. The
    // set→start→restore critical section is serialized — concurrent
    // streaming starts must leave the session conf exactly as found.
    val dir = Files.createTempDirectory("graft_stream_conc").toString
    writeBatch(dir, (1L to 8L).map(i =>
      (i, ts(f"2024-01-01 00:0${i % 10}:00"), i % 2, i.toDouble)))
    val schema = spark.read.parquet(dir).schema
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    // A value other than the runs' own pin, so a lost restore shows.
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val runs = (1 to 4).map { i =>
      Future {
        val out = StreamHarness.runMemory(
          StreamingIngest.readEvents(spark, dir, schema).select("event_id"),
          s"conc$i")(identity)
        out.count()
      }
    }
    val rows = try Await.result(Future.sequence(runs), 120.seconds)
      finally {
        val after = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", before)
        assert(after == "3")
      }
    assert(rows.forall(_ == 8L))
  }

  test("a file-sink run whose batch body throws stops its query and deletes its scratch") {
    val dir = Files.createTempDirectory("graft_stream_fail").toString
    writeBatch(dir, Seq((1L, ts("2024-01-01 00:00:00"), 1L, 1.0)))
    val schema = spark.read.parquet(dir).schema
    var sinkSeen: String = null
    val e = intercept[Exception] {
      StreamHarness.runForeachBatch(StreamingIngest.readEvents(spark, dir, schema), "fail") {
        (_, _, sink) =>
          sinkSeen = sink
          throw new IllegalStateException("batch body failed")
      }(sink => spark.read.parquet(sink))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("batch body failed")), e.toString)
    assert(sinkSeen != null)
    assert(spark.streams.active.isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(sinkSeen).getParent))
  }

  test("tumblingOhlcv streams windowed OHLCV aggregates") {
    val dir = Files.createTempDirectory("graft_stream").toString
    writeBatch(dir, Seq(
      (1L, ts("2024-01-01 00:10:00"), 1L, 10.0),
      (2L, ts("2024-01-01 00:50:00"), 1L, 20.0),
      (3L, ts("2024-01-01 01:20:00"), 1L, 30.0)))
    val schema = spark.read.parquet(dir).schema
    val stream = StreamingIngest.readEvents(spark, dir, schema)
    val agg = StreamingIngest.tumblingOhlcv(stream, "ts", "value", "user_id",
      "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("ohlcv_out")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("ohlcv_out").orderBy("bucket_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Double]("open") == 10.0)
    assert(out(0).getAs[Double]("close") == 20.0)
    assert(out(0).getAs[Long]("n_events") == 2L)
    assert(out(1).getAs[Double]("close") == 30.0)
  }

  test("dedupWithinWatermark drops duplicate keys inside the horizon") {
    val dir = Files.createTempDirectory("graft_stream2").toString
    writeBatch(dir, Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 1.0),
      (1L, ts("2024-01-01 00:01:00"), 1L, 2.0), // dup event_id, late copy
      (2L, ts("2024-01-01 00:02:00"), 1L, 3.0)))
    val schema = spark.read.parquet(dir).schema
    val stream = StreamingIngest.readEvents(spark, dir, schema)
    val deduped = StreamingIngest.dedupWithinWatermark(stream, "ts",
      "10 minutes", Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("dedup_out")
    assert(out.count() == 2)
    assert(out.select("event_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("streamingEma carries per-key state across micro-batches") {
    val src = Files.createTempDirectory("graft_stream_ema").toString
    val ckpt = Files.createTempDirectory("graft_ema_ckpt").toString
    val alpha = 0.5
    writeBatch(src, Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 10.0),
      (2L, ts("2024-01-01 00:01:00"), 1L, 20.0)))
    val out = Files.createTempDirectory("graft_ema_out").toString + "/table"
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      // Memory sinks can't recover from a checkpoint; foreachBatch can.
      val ema = StreamingIngest.streamingEma(
        StreamingIngest.readEvents(spark, src, schema),
        "user_id", "ts", "event_id", "value", alpha, minPeriods = 1)
      val q = ema.writeStream
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out); ()
        }.start()
      q.awaitTermination(60000); q.stop()
    }
    run()
    val first = spark.read.parquet(out).orderBy("ts").select("ema")
      .collect().map(_.getDouble(0))
    assert(first.toSeq == Seq(10.0, 15.0)) // seed, then 0.5·20 + 0.5·10
    // Second delivery: the recurrence must continue from ema = 15.
    writeBatch(src, Seq((3L, ts("2024-01-01 00:02:00"), 1L, 35.0)))
    run()
    val second = spark.read.parquet(out).orderBy("ts").select("ema")
      .collect().map(_.getDouble(0))
    assert(second.toSeq == Seq(10.0, 15.0, 25.0)) // 0.5·35 + 0.5·15 — not a fresh seed
  }

  test("streamingEma reads NULL and NaN bars as withEma does, in one or two micro-batches") {
    val rows = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, Option(10.0)), (2L, ts("2024-01-01 00:01:00"), 2L, None),
      (3L, ts("2024-01-01 00:02:00"), 1L, None), (4L, ts("2024-01-01 00:03:00"), 2L, Option(7.5)),
      (5L, ts("2024-01-01 00:04:00"), 1L, Option(Double.NaN)), (6L, ts("2024-01-01 00:05:00"), 2L, Option(8.25)),
      (7L, ts("2024-01-01 00:06:00"), 1L, Option(13.0)), (8L, ts("2024-01-01 00:07:00"), 2L, Option(Double.NaN)),
      (9L, ts("2024-01-01 00:08:00"), 1L, Option(12.5)), (10L, ts("2024-01-01 00:09:00"), 2L, Option(9.0)),
      (11L, ts("2024-01-01 00:10:00"), 1L, None), (12L, ts("2024-01-01 00:11:00"), 1L, Option(11.0)))
    def write(dir: String, part: Seq[(Long, Timestamp, Long, Option[Double])]): Unit =
      part.toDF("event_id", "ts", "user_id", "value").coalesce(1).write.mode("append").parquet(dir)
    val (alpha, minPeriods) = (0.4, 2)
    def bits(rows: Seq[(Long, Long, Option[Double])]) =
      rows.map { case (k, t, e) => (k, t, e.map(java.lang.Double.doubleToRawLongBits)) }
    val all = Files.createTempDirectory("graft_ema_all").toString
    write(all, rows)
    val batch = bits(graft.ohlcv.Features.withEma(spark.read.parquet(all), "user_id", "ts", "value",
        Seq(("ema", alpha, minPeriods)))
      .select(col("user_id"), unix_micros(col("ts")), col("ema"))
      .as[(Long, Long, Option[Double])].collect().toSeq.sorted)
    assert(batch.length == rows.length && batch.exists(_._3.isEmpty) && batch.exists(_._3.nonEmpty))
    for (split <- Seq(rows.length, 5)) {
      val src = Files.createTempDirectory("graft_ema_src").toString
      val ckpt = Files.createTempDirectory("graft_ema_ckpt").toString
      val out = Files.createTempDirectory("graft_ema_out").toString + "/table"
      val schema = spark.read.parquet(all).schema
      for (part <- Seq(rows.take(split), rows.drop(split)) if part.nonEmpty) {
        write(src, part)
        val q = StreamingIngest.streamingEma(StreamingIngest.readEvents(spark, src, schema),
            "user_id", "ts", "event_id", "value", alpha, minPeriods).writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(out); ()
          }.start()
        assert(q.awaitTermination(60000)); q.stop()
      }
      val streamed = spark.read.parquet(out).as[(Long, Long, Option[Double])].collect().toSeq.sorted
      assert(bits(streamed) == batch, s"split at $split")
    }
  }

  test("streamingHolt and streamingKalman over two micro-batches equal the batch scans bit for bit") {
    val batch1 = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 10.0), (2L, ts("2024-01-01 00:01:00"), 2L, 50.0),
      (3L, ts("2024-01-01 00:02:00"), 1L, 12.5), (4L, ts("2024-01-01 00:03:00"), 1L, 11.0),
      (5L, ts("2024-01-01 00:04:00"), 2L, 47.25))
    val batch2 = Seq(
      (6L, ts("2024-01-01 00:05:00"), 1L, 15.75), (7L, ts("2024-01-01 00:06:00"), 2L, 52.0),
      (8L, ts("2024-01-01 00:07:00"), 1L, 14.0), (9L, ts("2024-01-01 00:08:00"), 2L, 49.5))
    /** Deliver batch1 then batch2 to a restarted query, as the EMA test does. */
    def streamed(name: String)(op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Double, Double)] = {
      val src = Files.createTempDirectory(s"graft_stream_$name").toString
      val ckpt = Files.createTempDirectory(s"graft_${name}_ckpt").toString
      val out = Files.createTempDirectory(s"graft_${name}_out").toString + "/table"
      writeBatch(src, batch1)
      val schema = spark.read.parquet(src).schema
      def run(): Unit = {
        val q = op(StreamingIngest.readEvents(spark, src, schema)).writeStream
          .option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(out); ()
          }.start()
        q.awaitTermination(60000); q.stop()
      }
      run()
      writeBatch(src, batch2)
      run()
      spark.read.parquet(out).as[(Long, Long, Double, Double)].collect().toSeq.sorted
    }
    val all = (batch1 ++ batch2).toDF("event_id", "ts", "user_id", "value")
    def batched(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col("user_id"), unix_micros(col("ts")), col(a), col(b))
        .as[(Long, Long, Double, Double)].collect().toSeq.sorted
    def bits(rows: Seq[(Long, Long, Double, Double)]) = rows.map { case (k, t, a, b) =>
      (k, t, java.lang.Double.doubleToRawLongBits(a), java.lang.Double.doubleToRawLongBits(b))
    }
    val holt = streamed("holt")(StreamingIngest.streamingHolt(_, "user_id", "ts", "event_id",
      "value", alpha = 0.5, beta = 0.25, minPeriods = 1))
    assert(holt.length == 9)
    assert(bits(holt) == bits(batched(graft.ohlcv.HoltWinters.withHolt(all, "user_id", "ts",
      "value", alpha = 0.5, beta = 0.25), "level", "trend")))
    val kalman = streamed("kalman")(StreamingIngest.streamingKalman(_, "user_id", "ts",
      "event_id", "value", qVar = 0.01, rVar = 1.0))
    assert(kalman.length == 9)
    assert(bits(kalman) == bits(batched(graft.ohlcv.HoltWinters.withKalmanLevel(all, "user_id",
      "ts", "value", qVar = 0.01, rVar = 1.0), "x", "p")))
  }

  test("streamingHolt and streamingKalman skip a NULL value and carry the state, as the batch scans do") {
    val rows = Seq((1L, ts("2024-01-01 00:00:00"), 1L, Option(10.0)),
      (2L, ts("2024-01-01 00:01:00"), 1L, Option.empty[Double]),
      (3L, ts("2024-01-01 00:02:00"), 1L, Option(12.0)))
    val src = Files.createTempDirectory("graft_stream_null").toString
    rows.toDF("event_id", "ts", "user_id", "value").coalesce(1).write.mode("append").parquet(src)
    val all = spark.read.parquet(src)
    def streamed(op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Seq[(Long, Option[Double], Option[Double])] = {
      val name = s"null_${System.nanoTime()}"
      op(StreamingIngest.readEvents(spark, src, all.schema)).writeStream
        .format("memory").queryName(name)
        .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow())
        .start().awaitTermination(60000)
      spark.table(name).as[(Long, Long, Option[Double], Option[Double])]
        .collect().toSeq.map(r => (r._2, r._3, r._4)).sorted
    }
    def batched(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(unix_micros(col("ts")), col(a), col(b))
        .as[(Long, Option[Double], Option[Double])].collect().toSeq.sorted
    val holt = streamed(StreamingIngest.streamingHolt(_, "user_id", "ts", "event_id",
      "value", alpha = 0.5, beta = 0.25, minPeriods = 1))
    assert(holt.map(_._2) == Seq(Some(10.0), Some(10.0), Some(11.0)))
    assert(holt == batched(graft.ohlcv.HoltWinters.withHolt(all, "user_id", "ts", "value",
      alpha = 0.5, beta = 0.25), "level", "trend"))
    val kalman = streamed(StreamingIngest.streamingKalman(_, "user_id", "ts", "event_id",
      "value", qVar = 0.01, rVar = 1.0))
    assert(kalman == batched(graft.ohlcv.HoltWinters.withKalmanLevel(all, "user_id", "ts",
      "value", qVar = 0.01, rVar = 1.0), "x", "p"))
  }

  test("foreachBatchUpsert merges micro-batches with keep-last semantics") {
    val src = Files.createTempDirectory("graft_stream3").toString
    val sink = Files.createTempDirectory("graft_sink").toString + "/table"
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    writeBatch(src, Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 1.0),
      (2L, ts("2024-01-01 00:01:00"), 1L, 2.0)))
    val schema = spark.read.parquet(src).schema
    val q1 = StreamingIngest.foreachBatchUpsert(
      StreamingIngest.readEvents(spark, src, schema),
      sink, Seq("event_id"), "ts", ckpt).start()
    q1.awaitTermination(60000)
    // Second delivery: refetch overlaps event 2 with a newer value.
    writeBatch(src, Seq(
      (2L, ts("2024-01-01 00:05:00"), 1L, 20.0),
      (3L, ts("2024-01-01 00:06:00"), 1L, 3.0)))
    val q2 = StreamingIngest.foreachBatchUpsert(
      StreamingIngest.readEvents(spark, src, schema),
      sink, Seq("event_id"), "ts", ckpt).start()
    q2.awaitTermination(60000)
    val out = spark.read.parquet(sink).orderBy("event_id")
      .select("event_id", "value").as[(Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
  }

  test("upsert sink recovers idempotently when a batch replays (crash before commit marker)") {
    // foreachBatch is at-least-once: a crash after the sink write but
    // before the checkpoint's commit marker lands makes the engine
    // REPLAY the batch on restart. Inject exactly that fault: run a
    // batch to completion, delete its commit marker, restart — the
    // replayed merge must leave the committed table bit-identical.
    val src = Files.createTempDirectory("graft_crash_src").toString
    val sink = Files.createTempDirectory("graft_crash_sink").toString + "/table"
    val ckpt = Files.createTempDirectory("graft_crash_ckpt").toString
    writeBatch(src, Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 1.0),
      (2L, ts("2024-01-01 00:01:00"), 1L, 2.0),
      (2L, ts("2024-01-01 00:02:00"), 1L, 22.0))) // in-batch dup, keep-last
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = StreamingIngest.foreachBatchUpsert(
        StreamingIngest.readEvents(spark, src, schema),
        sink, Seq("event_id"), "ts", ckpt).start()
      assert(q.awaitTermination(60000)); q.stop()
    }
    run()
    def snapshot() = spark.read.parquet(sink).orderBy("event_id")
      .select("event_id", "value").as[(Long, Double)].collect().toSeq
    val committed = snapshot()
    assert(committed == Seq((1L, 1.0), (2L, 22.0)))
    // Simulated crash: batch 0's sink effects are durable, its commit
    // marker is not → restart replays batch 0 against the live table.
    val marker = java.nio.file.Paths.get(ckpt, "commits", "0")
    assert(java.nio.file.Files.deleteIfExists(marker))
    // Also drop the local-FS checksum sidecar, or the replayed commit's
    // rename sees a half-present file and refuses the checkpoint.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".0.crc"))
    run()
    assert(snapshot() == committed) // replay was a no-op merge
  }

  test("upsert sink recovers when a crash lands between the two swap renames") {
    // The swap renames the live table ASIDE (sink -> sink__old) before
    // promoting the new one. A crash exactly between those renames
    // leaves only sink__old on disk; the next batch must merge against
    // it so no committed row is lost.
    val src = Files.createTempDirectory("graft_swap_src").toString
    val sinkBase = Files.createTempDirectory("graft_swap_sink").toString
    val sink = sinkBase + "/table"
    val ckpt = Files.createTempDirectory("graft_swap_ckpt").toString
    writeBatch(src, Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, 1.0),
      (2L, ts("2024-01-01 00:01:00"), 1L, 2.0)))
    val schema = spark.read.parquet(src).schema
    val q1 = StreamingIngest.foreachBatchUpsert(
      StreamingIngest.readEvents(spark, src, schema),
      sink, Seq("event_id"), "ts", ckpt).start()
    assert(q1.awaitTermination(60000)); q1.stop()
    // Crash injection: live table moved aside, promotion never happened.
    java.nio.file.Files.move(
      java.nio.file.Paths.get(sink), java.nio.file.Paths.get(sink + "__old"))
    writeBatch(src, Seq((3L, ts("2024-01-01 00:02:00"), 1L, 3.0)))
    val q2 = StreamingIngest.foreachBatchUpsert(
      StreamingIngest.readEvents(spark, src, schema),
      sink, Seq("event_id"), "ts", ckpt).start()
    assert(q2.awaitTermination(60000)); q2.stop()
    val out = spark.read.parquet(sink).orderBy("event_id")
      .select("event_id", "value").as[(Long, Double)].collect()
    assert(out.toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }
}
