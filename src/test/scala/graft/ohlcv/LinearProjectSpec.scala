package graft.ohlcv

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CodegenStats, GraftExpressions, MatVecStrict}
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.SparkSpec

/** The matrix–vector kernel behind [[Encode.linearProject]]: bit-identical
  * to the per-row strict-dot form it replaced, strict on malformed input,
  * the same with codegen off, content-matched by the cache manager and
  * compact in plan strings.
  */
class LinearProjectSpec extends SparkSpec {

  private val inLen = 256
  private val outDim = 64
  private val m = Encode.randomProjectionMatrix(inLen, outDim, seed = 7L)

  /** The form the kernel replaced: one strict dot per matrix row against a
    * literal array — kept here as the reference. */
  private def reference(x: org.apache.spark.sql.Column, mat: Array[Array[Double]]) =
    array(mat.toIndexedSeq.map(r =>
      GraftExpressions.arrayDotStrict(x, array(r.toIndexedSeq.map(lit): _*))): _*)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", ArrayType(DoubleType, containsNull = true))))

  /** An RDD-backed frame, so the projection is planned into a codegen
    * stage instead of being folded at planning time as a local relation. */
  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def windows: DataFrame = {
    val rnd = new scala.util.Random(20240601L)
    frame((0 until 300).map { id =>
      Row(id.toLong, Array.tabulate(inLen) { _ =>
        rnd.nextInt(400) match {
          case 0 => Double.NaN
          case 1 => Double.PositiveInfinity
          case _ => rnd.nextGaussian() * 3
        }
      }.toSeq)
    })
  }

  private def malformed: DataFrame = frame(Seq(
    Row(0L, null),
    Row(1L, Seq.fill(inLen - 1)(1.0)),
    Row(2L, Seq.fill(inLen + 1)(1.0)),
    Row(3L, Seq.fill(inLen)(1.0).updated(17, null)),
    Row(4L, Seq.empty[Double])))

  /** Exact bits of each component. NaNs compare as one value: Java leaves
    * the bits of an arithmetic NaN unspecified (on x86 the JIT's operand
    * order picks the sign), so only the kernel fixes them. */
  private def bits(xs: scala.collection.Seq[Any]): Seq[Any] =
    xs.map(v => if (v == null) null else java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])).toSeq

  private def project(df: DataFrame, c: org.apache.spark.sql.Column): Map[Long, Seq[Any]] =
    df.select(col("id"), c.as("e")).collect()
      .map(r => r.getLong(0) -> bits(r.getSeq[Any](1))).toMap

  private def withInterpreted[A](f: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val old = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The whole-stage codegen stages of an executed frame's plan. */
  private def codegenStages(df: DataFrame) = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case w: WholeStageCodegenExec => w }
  }

  test("kernel output is bit-identical to the per-row strict-dot form, NaN and Inf included") {
    val df = windows
    val got = project(df, Encode.linearProject(col("v"), m))
    val want = project(df, reference(col("v"), m))
    assert(got.size == 300 && got == want)
    val projected = df.select(Encode.linearProject(col("v"), m).as("e"))
    val raw = projected.collect()
      .flatMap(_.getSeq[Double](0)).filter(_.isNaN).map(java.lang.Double.doubleToRawLongBits)
    assert(raw.nonEmpty && raw.forall(_ == java.lang.Double.doubleToRawLongBits(Double.NaN)),
      "the kernel stores NaN components as the canonical Double.NaN")
    val stages = codegenStages(projected).filter(_.child.expressions.exists(
      _.exists(_.isInstanceOf[MatVecStrict])))
    assert(stages.nonEmpty, "the kernel did not run inside a codegen stage")
    val bytes = stages.flatMap(CodegenStats.stageMethodBytes)
    assert(bytes.max < CodegenStats.HugeMethodLimit, s"kernel stage methods: $bytes bytes")
  }

  test("a NULL, short, long, NULL-holding or empty input gives outDim NULL components") {
    val got = project(malformed, Encode.linearProject(col("v"), m))
    assert(got.size == 5)
    got.values.foreach(e => assert(e == Seq.fill(outDim)(null)))
    assert(got == project(malformed, reference(col("v"), m)))
  }

  test("codegen off (wholeStage=false, NO_CODEGEN) gives the same results") {
    val c = Encode.linearProject(col("v"), m)
    val (cg, cgBad) = (project(windows, c), project(malformed, c))
    val (interp, interpBad) = withInterpreted(
      (project(windows, c), project(malformed, c)))
    assert(interp == cg && interpBad == cgBad)
  }

  test("cache matching: equal but distinct matrices match, a different matrix does not") {
    val base = spark.range(0, 50).select(col("id"),
      transform(sequence(lit(0), lit(inLen - 1)), i => (col("id") + i).cast("double") / 7.0).as("v"))
    val copy = m.map(_.clone)
    val other = m.map(_.clone)
    other(3)(5) += 1e-9
    val a = base.select(Encode.linearProject(col("v"), m).as("e"))
    val b = base.select(Encode.linearProject(col("v"), copy).as("e"))
    val c = base.select(Encode.linearProject(col("v"), other).as("e"))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    assert(!a.queryExecution.analyzed.sameResult(c.queryExecution.analyzed))
    val cm = spark.sharedState.cacheManager
    def lookup(df: DataFrame) =
      cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    a.persist()
    try {
      a.count()
      assert(lookup(b).isDefined, "an equal refit matrix missed the cache")
      assert(lookup(c).isEmpty, "a different matrix was served from the cache")
    } finally a.unpersist(blocking = true)
  }

  test("plan strings carry the matrix shape and hash, not its values") {
    val df = windows.select(Encode.linearProject(col("v"), m).as("e"))
    df.collect()
    val text = df.queryExecution.explainString(org.apache.spark.sql.execution.ExtendedMode)
    assert(text.contains(s"matrix[${outDim}x$inLen#"), text.take(2000))
    Seq(m(0)(0), m(31)(100), m(63)(255)).foreach(v =>
      assert(!text.contains(v.toString), s"plan string renders matrix value $v"))
    assert(text.length < 20000, s"plan string is ${text.length} chars")
  }

  test("hyperplaneSignature: sign bits of the kernel's projection; NULL for a malformed vector") {
    val planes = Encode.randomProjectionMatrix(inLen, 8, seed = 3L)
    val sig = windows.union(malformed)
      .select(col("id"), graft.sim.Lsh.hyperplaneSignature(col("v"), planes).as("s"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
    val want = windows.union(malformed).collect().map { r =>
      val v = if (r.isNullAt(1)) null else r.getSeq[Any](1)
      val s = if (v == null || v.length != inLen || v.contains(null)) None
        else Some(planes.zipWithIndex.map { case (p, i) =>
          var d = 0.0
          var j = 0
          while (j < inLen) { d += v(j).asInstanceOf[Double] * p(j); j += 1 }
          // Spark orders NaN above every number, so a NaN dot sets its bit.
          if (d.isNaN || d >= 0) 1L << i else 0L
        }.reduce(_ | _))
      r.getLong(0) -> s
    }
    assert(sig.sortBy(_._1).toSeq == want.sortBy(_._1).toSeq)
    assert(sig.count(_._2.isEmpty) == 5)
  }
}
