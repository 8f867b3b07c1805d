package graft.ohlcv

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ArtifactSpec extends SparkSpec {
  import spark.implicits._

  test("projection matrix round-trips through the parquet artifact (S5)") {
    val m = Encode.randomProjectionMatrix(8, 3, 99L)
    val path = Files.createTempDirectory("graft_artifact").toString + "/proj"
    Encode.saveMatrix(spark, m, path)
    val back = Encode.loadMatrix(spark, path)
    assert(back.length == 3 && back.head.length == 8)
    assert(back.flatten.toSeq == m.flatten.toSeq)
    // loaded matrix drives the encoder identically
    val df = Seq(Tuple1((1 to 8).map(_.toDouble))).toDF("v")
    val a = df.select(Encode.linearProject(col("v"), m)).as[Seq[Double]].head()
    val b = df.select(Encode.linearProject(col("v"), back)).as[Seq[Double]].head()
    assert(a == b)
  }

  test("loadMatrix requires every (row, col) exactly once and rejects an empty table") {
    val dir = Files.createTempDirectory("graft_artifact").toString
    val m = Encode.randomProjectionMatrix(4, 3, 5L)
    Encode.saveMatrix(spark, m, s"$dir/full")
    val entries = spark.read.parquet(s"$dir/full")
    // One cell dropped: the old loader zero-filled it.
    entries.filter(!(col("row") === 1 && col("col") === 2))
      .write.parquet(s"$dir/missing")
    val e1 = intercept[IllegalArgumentException](Encode.loadMatrix(spark, s"$dir/missing"))
    assert(e1.getMessage.contains("exactly once"), e1.getMessage)
    // One cell twice (12 entries would otherwise pass a count check).
    entries.filter(!(col("row") === 0 && col("col") === 0))
      .union(entries.filter(col("row") === 2 && col("col") === 3))
      .write.parquet(s"$dir/dup")
    intercept[IllegalArgumentException](Encode.loadMatrix(spark, s"$dir/dup"))
    entries.limit(0).write.parquet(s"$dir/empty")
    val e2 = intercept[IllegalArgumentException](Encode.loadMatrix(spark, s"$dir/empty"))
    assert(e2.getMessage.contains("no entries"), e2.getMessage)
  }

  test("PcaFit keys fitted matrices by sf dir; ambiguous only multi-dir without context") {
    import graft.ExtraQueries.PcaMatrices
    PcaMatrices.clear()
    val mA = Array(Array(1.0, 0.0))
    val mB = Array(Array(0.0, 1.0))
    try {
      PcaMatrices.put("/data/a", mA)
      // Single fit: resolvable with or without a dump context.
      assert(PcaMatrices.lookup(Some("/data/a")).contains(mA))
      assert(PcaMatrices.lookup(None).contains(mA))
      // Explicit-but-unmatched dir: no single-fit fallback — the
      // oracle's loud error branch beats another dir's literals.
      assert(PcaMatrices.lookup(Some("/data/zz")).isEmpty)
      PcaMatrices.put("/data/b", mB)
      // Two dirs: the context picks the right fit; no context is ambiguous.
      assert(PcaMatrices.lookup(Some("/data/a")).contains(mA))
      assert(PcaMatrices.lookup(Some("/data/b")).contains(mB))
      assert(PcaMatrices.lookup(None).isEmpty)
      // Re-running against one dir overwrites only that dir's fit.
      val mA2 = Array(Array(2.0, 2.0))
      PcaMatrices.put("/data/a", mA2)
      assert(PcaMatrices.lookup(Some("/data/a")).contains(mA2))
      assert(PcaMatrices.lookup(Some("/data/b")).contains(mB))
    } finally PcaMatrices.clear()
  }

  test("q204 fit artifact: miss then hit, and fresh refits are deep-equal") {
    import graft.ExtraQueries
    import graft.ExtraQueries.PcaMatrices
    val sf = "/root/testdata/sf0.001"
    def stored = PcaMatrices.lookup(Some(sf))
    PcaMatrices.clear()
    try {
      // Rep 1 (cold): artifact miss — the full users_count/fit/artifact
      // path runs and stores the matrix.
      assert(stored.isEmpty)
      ExtraQueries.q204Pipeline(spark, sf).count()
      val first = stored
      assert(first.isDefined, "the cold rep stored no fit artifact")
      // Rep 2 (warm): artifact HIT — the stored matrix itself is reused
      // (a refit would have stored a new instance).
      ExtraQueries.q204Pipeline(spark, sf).count()
      assert(stored.exists(_ eq first.get),
        "the warm rep refit instead of reusing the artifact")
      // Independent refit (store cleared): the fit is bit-reproducible,
      // so two fresh fits must agree entry for entry, bit for bit.
      PcaMatrices.clear()
      ExtraQueries.q204Pipeline(spark, sf).count()
      val refit = stored
      assert(refit.exists(_ ne first.get), "the cleared store was not refit")
      assert(java.util.Arrays.deepEquals(
        refit.get.asInstanceOf[Array[AnyRef]], first.get.asInstanceOf[Array[AnyRef]]),
        "fit literals drifted across fresh refits")
    } finally PcaMatrices.clear()
  }

  test("selectNumeric keeps numeric + protected columns only (P5)") {
    val df = Seq((1L, "x", 2.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "name", "score", "ts")
    val out = TimeSeriesOps.selectNumeric(df, protect = Seq("ts"))
    assert(out.columns.toSet == Set("id", "score", "ts"))
  }
}
