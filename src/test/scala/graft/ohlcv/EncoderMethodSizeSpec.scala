package graft.ohlcv

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CodegenStats
import graft.{Flagship, SparkSpec}

/** Regression guard: the whole-stage code of the flagship's 256 → 64 PCA
  * encoder plan must stay JIT-sized. HotSpot never compiles a method past
  * 8,000 bytecode bytes, and a 64-row projection inlined as 64 literal dot
  * loops generated one (11,061 bytes), so the paper's hottest stage ran
  * interpreted. The z-score (`graft_zscore`) and the projection kernel
  * compile into the same whole-stage method here.
  */
class EncoderMethodSizeSpec extends SparkSpec {
  import spark.implicits._

  test("embeddedWindows with a 64 x 256 projection compiles every stage under 8,000 bytes") {
    val series = (0 until 400).map(i => ("u1", i.toLong, 100.0 + math.sin(i * 0.3) * 5 + i * 0.01))
      .toDF("user_id", "idx", "close")
    val m = Encode.randomProjectionMatrix(256, 64, seed = 11L)
    val df = Flagship.embeddedWindows(series, seqLen = 256, embedDim = 64, projection = Some(m))
    assert(df.collect().length == 400 - 256 + 1)
    val sizes = CodegenStats.stageMethodBytes(df.queryExecution.executedPlan)
    assert(sizes.nonEmpty, "no whole-stage codegen stage was compiled")
    info(s"largest method per stage, bytes: ${sizes.mkString(", ")}")
    assert(sizes.max < CodegenStats.HugeMethodLimit,
      s"largest generated method is ${sizes.max} bytes (stages: ${sizes.mkString(", ")})")
  }
}
