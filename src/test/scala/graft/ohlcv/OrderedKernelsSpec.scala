package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.ArrayTransform
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ArrayStatsExpressions
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import graft.SparkSpec

/** The per-series ordered kernels of the clean, features and windows
  * layers against the formulations they replaced, which are kept here as
  * references: the EMA `mapPartitions` scan (pandas' `ewm` loop),
  * the gap-fill scaffold join and the z-score `transform` lambda. Doubles
  * compare by raw bits.
  */
class OrderedKernelsSpec extends SparkSpec {
  import spark.implicits._

  private val codegenModes = Seq(
    "whole-stage codegen" -> Seq.empty[(String, String)],
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[A](kv: Seq[(String, String)])(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: scala.collection.Seq[_] => s.map(bits)
    case other => other
  }

  // ------------------------------------------------------------ EMA

  /** An ordered per-partition scan of pandas' `ewm(adjust=False)` loop
    * with its default `ignore_na=False` (`ewm` in
    * `pandas/_libs/window/aggregations.pyx`): a NULL or NaN value is
    * missing; once seeded, every row decays the old weight by (1−α) and an
    * observation combines `(w·ema + α·x)/(w + α)` and resets the weight
    * to 1; a NaN EMA is unseeded. Where no row was missing since the last
    * observation the update is `α·x + (1−α)·ema`, as in the scan
    * `Features.withEma` ran before it became a window function. */
  private def scanEma(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      specs: Seq[(String, Double, Int)]): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++
      specs.map { case (name, _, _) => StructField(name, DoubleType, nullable = true) })
    val keyIdx = inSchema.fieldIndex(keyCol)
    val valIdx = inSchema.fieldIndex(valCol)
    val alphas = specs.map(_._2).toArray
    val minPeriods = specs.map(_._3).toArray
    val nSpecs = specs.length
    df.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col(ordCol)).mapPartitions { rows =>
      var curKey: Any = null
      var started = false
      var n = 0L
      val ema = new Array[Double](nSpecs)
      val oldWt = new Array[Double](nSpecs)
      rows.map { row =>
        val k = row.get(keyIdx)
        if (!started || k != curKey) {
          started = true; curKey = k; n = 0L
          java.util.Arrays.fill(ema, Double.NaN)
          java.util.Arrays.fill(oldWt, 1.0)
        }
        val out = new Array[Any](outSchema.length)
        var i = 0
        while (i < inSchema.length) { out(i) = row.get(i); i += 1 }
        val x = if (row.isNullAt(valIdx)) Double.NaN else row.getDouble(valIdx)
        val isObs = !x.isNaN
        if (isObs) n += 1
        var j = 0
        while (j < nSpecs) {
          val a = alphas(j)
          if (!ema(j).isNaN) {
            val gap = oldWt(j) != 1.0
            oldWt(j) *= (1 - a)
            if (isObs) {
              ema(j) = if (gap) (oldWt(j) * ema(j) + a * x) / (oldWt(j) + a)
                else a * x + (1 - a) * ema(j)
              oldWt(j) = 1.0
            }
          } else if (isObs) ema(j) = x
          out(inSchema.length + j) =
            if (!ema(j).isNaN && n >= minPeriods(j)) java.lang.Double.valueOf(ema(j)) else null
          j += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericRow(out): Row
      }
    }(Encoders.row(outSchema))
  }

  /** Seeded series: five keys and a NULL key, lengths 0–80, about 10 %
    * NULL, 5 % NaN and 2 % ±Inf values. */
  private lazy val emaInput: DataFrame = {
    val r = new java.util.Random(7)
    val rows = (Seq("a", "b", "c", "d", "e").map(Some(_)) :+ None).flatMap { k =>
      (0 until r.nextInt(81)).map { i =>
        val u = r.nextDouble()
        val v: Option[Double] =
          if (u < 0.10) None
          else if (u < 0.15) Some(Double.NaN)
          else if (u < 0.16) Some(Double.PositiveInfinity)
          else if (u < 0.17) Some(Double.NegativeInfinity)
          else Some(100 + r.nextGaussian() * 5)
        (k, i.toLong * 3 + r.nextInt(3), v)
      }
    }
    rows.toDF("symbol", "idx", "close").repartition(3)
  }

  private val emaSpecs = Seq(Features.emaSpanSpec("e5", 5),
    Features.emaAlphaSpec("w14", 14), ("e200", 2.0 / 201, 200), ("e1", 0.3, 1))

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => bits(r.toSeq).asInstanceOf[Seq[Any]])
      .sortBy(r => (Option(r.head).map(_.toString).getOrElse(""), r(1).asInstanceOf[Long]))

  for ((mode, conf) <- codegenModes)
    test(s"withEma window function is bit-identical to the ordered scan ($mode)") {
      withConf(conf) {
        val want = sortedRows(scanEma(emaInput, "symbol", "idx", "close", emaSpecs))
        val out = Features.withEma(emaInput, "symbol", "idx", "close", emaSpecs)
        assert(out.columns.toSeq == emaInput.columns.toSeq ++ emaSpecs.map(_._1))
        val got = sortedRows(out)
        assert(got.length == want.length)
        got.zip(want).foreach { case (g, w) => assert(g == w, s"row $g, want $w") }
        // min_periods 200 exceeds every series: that column is all NULL
        assert(got.forall(_(5) == null))
        assert(got.exists(_(3) != null))
      }
    }

  // ------------------------------------------------------- gap fill

  /** The spans-aggregate + dense-scaffold + left-join body
    * `gapFillFfill` had before its one-pass form. */
  private def scaffoldGapFill(df: DataFrame, keyCol: String, idxCol: String,
      fillCols: Seq[String]): DataFrame = {
    val spans = df.groupBy(keyCol).agg(min(idxCol).as("__lo"), max(idxCol).as("__hi"))
    val scaffold = TimeSeriesOps.denseLongs(spans, keyCol, "__lo", "__hi", 1L)
      .withColumnRenamed("__v", idxCol)
    TimeSeriesOps.ffill(scaffold.join(df, Seq(keyCol, idxCol), "left"), keyCol, idxCol, fillCols)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    assert(got.count() == want.count())
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"extra ${extra.take(5).mkString(", ")}; missing ${missing.take(5).mkString(", ")}")
  }

  private def gapInput(rows: (String, java.lang.Long, java.lang.Double, String, java.lang.Double)*) =
    rows.toDF("symbol", "idx", "close", "tag", "vol")

  test("gapFillFfill: gaps of 1 and 2 and NULL fill values match the scaffold join") {
    val df = gapInput(
      ("a", 0L, 1.0, "p", 10.0), ("a", 1L, null, "q", 11.0), ("a", 3L, 3.0, null, null),
      ("a", 6L, null, "r", 16.0), ("a", 7L, 7.0, "s", 17.0),
      ("b", 10L, null, "t", null), ("b", 12L, 12.0, "u", 22.0))
    val out = TimeSeriesOps.gapFillFfill(df, "symbol", "idx", Seq("close", "vol"))
    assert(out.columns.toSeq == Seq("symbol", "idx", "close", "tag", "vol"))
    assertSameRows(out, scaffoldGapFill(df, "symbol", "idx", Seq("close", "vol")))
    val a = out.filter($"symbol" === "a").orderBy("idx").collect()
    assert(a.map(_.getLong(1)).toSeq == (0L to 7L))
    // idx 5 is a gap row: fill columns carried from idx 3, `tag` NULL
    assert(a(5).getDouble(2) == 3.0 && a(5).isNullAt(3) && a(5).getDouble(4) == 11.0)
  }

  test("gapFillFfill: a gap longer than one 8,192-index chunk matches the scaffold join") {
    val df = gapInput(("a", 5L, 1.0, "x", 2.0), ("a", 9000L, 3.0, "y", null),
      ("a", 9001L, null, "z", 4.0), ("b", 0L, 7.0, "w", 8.0))
    val out = TimeSeriesOps.gapFillFfill(df, "symbol", "idx", Seq("close", "vol"))
    assert(out.filter($"symbol" === "a").count() == 8997L)
    assertSameRows(out, scaffoldGapFill(df, "symbol", "idx", Seq("close", "vol")))
  }

  test("gapFillFfill: NULL key, NULL idx and duplicate (key, idx) as the scaffold join emits them") {
    val df = gapInput(
      ("a", 0L, 1.0, "p", 1.0), ("a", 2L, 2.0, "x", 2.0), ("a", 2L, 2.0, "y", 2.0),
      ("a", 4L, 4.0, "q", 4.0), ("a", null, 9.0, "n", 9.0),
      (null, 3L, 5.0, "k", 5.0), (null, 6L, 6.0, "m", 6.0), (null, 6L, 7.0, "o", 7.0),
      ("c", null, 1.0, "only-null-idx", 1.0))
    val want = scaffoldGapFill(df, "symbol", "idx", Seq("close", "vol"))
    // What the scaffold join emits, pinned: a NULL key yields its dense
    // range once per index with every other column NULL; a NULL idx row
    // is dropped; a duplicate (key, idx) comes out twice.
    val pinned = want.collect().toSeq
    val nullKey = pinned.filter(_.isNullAt(0))
    assert(nullKey.map(_.getLong(1)).sorted == Seq(3L, 4L, 5L, 6L))
    assert(nullKey.forall(r => (2 until 5).forall(r.isNullAt)))
    assert(!pinned.exists(r => r.getAs[String]("symbol") == "c"))
    assert(pinned.count(r => r.getAs[String]("symbol") == "a" && r.getLong(1) == 2L) == 2)
    assert(pinned.length == 6 + 4)
    assertSameRows(TimeSeriesOps.gapFillFfill(df, "symbol", "idx", Seq("close", "vol")), want)
  }

  // -------------------------------------------------------- z-score

  /** The lambda `slidingZscored` used for `zvalues` before the kernel. */
  private def lambdaZscore(values: Column, center: Column, scale: Column, eps: Double): Column =
    transform(values, x => (x - center) / (scale + lit(eps)))

  /** 300 seeded 256-element windows with NULL, NaN and ±Inf elements. */
  private lazy val zWindows: DataFrame = {
    val r = new java.util.Random(11)
    val rows = (0 until 300).map { id =>
      val kind = id % 4 // 0: clean, 1: NULLs, 2: NaN/Inf, 3: constant
      (id, (0 until 256).map { i =>
        val u = r.nextDouble()
        if (kind == 1 && u < 0.05) null
        else if (kind == 2 && u < 0.02) java.lang.Double.valueOf(Double.NaN)
        else if (kind == 2 && u < 0.03) java.lang.Double.valueOf(Double.PositiveInfinity)
        else if (kind == 2 && u < 0.04) java.lang.Double.valueOf(Double.NegativeInfinity)
        else if (kind == 3) java.lang.Double.valueOf(42.0)
        else java.lang.Double.valueOf(100 + r.nextGaussian() * 3 + i * 0.01)
      })
    }
    // repartition: over a bare local relation the optimizer would evaluate
    // the projection itself, interpreted, whatever the codegen setting.
    rows.toDF("id", "values").repartition(2)
      .withColumn("center", ArrayStatsExpressions.arraySum(col("values")) / 256)
      .withColumn("scale", sqrt(ArrayStatsExpressions.arraySumSqAround(col("values"), col("center")) / 256))
  }

  for ((mode, conf) <- codegenModes)
    test(s"graft_zscore is bit-identical to the transform lambda ($mode)") {
      withConf(conf) {
        val rows = zWindows.select(col("id"),
          ArrayStatsExpressions.arrayZscore(col("values"), col("center"), col("scale"), 1e-8).as("got"),
          lambdaZscore(col("values"), col("center"), col("scale"), 1e-8).as("want"))
          .collect()
        assert(rows.length == 300)
        rows.foreach { r =>
          assert(bits(r.getSeq[Any](1)) == bits(r.getSeq[Any](2)), s"window ${r.getInt(0)}")
        }
        assert(rows.exists(_.getSeq[Any](1).contains(null)))
        assert(rows.exists(_.getSeq[Any](1).exists {
          case d: Double => d.isNaN
          case _ => false
        }))
      }
    }

  for ((mode, conf) <- codegenModes)
    test(s"slidingZscored zvalues equal the lambda over its own center and scale ($mode)") {
      withConf(conf) {
        val r = new java.util.Random(3)
        val series = (0 until 700).map { i =>
          val v = if (i % 97 == 5) Double.NaN else if (i == 300) Double.PositiveInfinity
            else 50 + r.nextGaussian()
          (if (i < 400) "a" else "b", i.toLong, v)
        }.toDF("user_id", "idx", "close")
        val rows = Windows.slidingZscored(series, "user_id", "idx", "close", 64)
          .withColumn("want", lambdaZscore(col("values"), col("center"), col("scale"), 1e-8))
          .select("zvalues", "want").collect()
        assert(rows.length == (400 - 63) + (300 - 63))
        rows.foreach(row => assert(bits(row.getSeq[Any](0)) == bits(row.getSeq[Any](1))))
      }
    }

  test("graft_zscore follows Divide on a zero divisor: NULL elements, an error under ANSI") {
    val w = Seq((0, Seq(1.0, 1.0, 1.0))).toDF("id", "values").repartition(1)
      .withColumn("center", lit(1.0)).withColumn("scale", lit(0.0))
    def both = w.select(
      ArrayStatsExpressions.arrayZscore(col("values"), col("center"), col("scale"), 0.0),
      lambdaZscore(col("values"), col("center"), col("scale"), 0.0))
    withConf(Seq("spark.sql.ansi.enabled" -> "false")) {
      val r = both.head()
      assert(r.getSeq[Any](0) == Seq(null, null, null) && r.getSeq[Any](1) == r.getSeq[Any](0))
    }
    def divideByZero(e: Throwable): Boolean =
      e != null && (Option(e.getMessage).exists(_.contains("DIVIDE_BY_ZERO")) || divideByZero(e.getCause))
    withConf(Seq("spark.sql.ansi.enabled" -> "true")) {
      val got = intercept[Exception](w.select(ArrayStatsExpressions
        .arrayZscore(col("values"), col("center"), col("scale"), 0.0)).collect())
      val want = intercept[Exception](w.select(
        lambdaZscore(col("values"), col("center"), col("scale"), 0.0)).collect())
      assert(divideByZero(got) && divideByZero(want), s"$got / $want")
    }
  }

  test("slidingZscored(...).select(zvalues) optimizes to a plan without a transform lambda") {
    val series = (0 until 300).map(i => ("a", i.toLong, math.sin(i * 0.1))).toDF("user_id", "idx", "close")
    val plan = Windows.slidingZscored(series, "user_id", "idx", "close", 256)
      .select("zvalues").queryExecution.optimizedPlan
    val lambdas = plan.flatMap(_.expressions.flatMap(_.collect { case t: ArrayTransform => t }))
    assert(lambdas.isEmpty, s"optimized plan:\n$plan")
  }

  // ----------------------------------------------------- plan shape

  private def stages(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
    case q: QueryStageExec => stages(q.plan)
    case other => other.children.flatMap(stages)
  })

  /** The benchmark's features chain: three SMAs, three EMAs, RSI, MACD
    * and Bollinger bands, all keyed by user_id and ordered by idx. */
  private def featuresChain(series: DataFrame): DataFrame = {
    val k = col("user_id")
    val o = col("idx")
    val smas = Seq(50, 100, 200).foldLeft(series) { (d, w) =>
      d.withColumn(s"sma_$w", Features.sma(col("close"), k, o, w))
    }
    val emas = Features.withEma(smas, "user_id", "idx", "close",
      Seq(50, 100, 200).map(w => Features.emaSpanSpec(s"ema_$w", w)))
    Features.withBollinger(Features.withMacd(Features.withRsi(emas, "user_id", "idx", "close"),
      "user_id", "idx", "close"), "user_id", "idx", "close")
  }

  private def exchangesOf(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    stages(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
  }

  test("the features chain runs in one hash partitioning and sort per key") {
    val r = new java.util.Random(5)
    val series = (0 until 900).map(i => (s"s${i % 3}", (i / 3).toLong, 100 + r.nextGaussian()))
      .toDF("user_id", "idx", "close")
    // Round-robin input: its own exchange plus the one the chain adds.
    val fromUnpartitioned = exchangesOf(featuresChain(series.repartition(4)))
    assert(fromUnpartitioned.length == 2, fromUnpartitioned.mkString("\n"))
    assert(fromUnpartitioned.count(_.shuffleOrigin == ENSURE_REQUIREMENTS) == 1)
    // Input hash-partitioned by key: the chain adds none.
    val fromKeyed = exchangesOf(featuresChain(series.repartition(col("user_id"))))
    assert(fromKeyed.length == 1, fromKeyed.mkString("\n"))
    assert(fromKeyed.count(_.shuffleOrigin == ENSURE_REQUIREMENTS) == 0)
  }
}
