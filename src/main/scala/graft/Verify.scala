package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // Optional trailing args restrict the dump to named queries (dev
    // iteration); the driver passes none and gets the full suite.
    val only = args.drop(2).toSet
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    val spark = Session.get()
    new java.io.File(outDir).mkdirs()
    // Dump queries CONCURRENTLY (Spark job scheduling is thread-safe and
    // the outputs are disjoint directories): at sf0.01 most queries are
    // seconds of work but there are 100+ of them, and the two streaming
    // queries block on micro-batch commits — run serially the suite
    // outgrew the driver's gate budget (round 4 recorded an empty
    // CORRECTNESS file). 8 lanes keeps 32 cores busy without thrashing
    // the shuffle dirs. Each query runs in its own Cached scope, so its
    // caches are released when its dump is written.
    val lanes = math.min(8, math.max(1, selected.size))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(lanes)
    val done = new java.util.concurrent.CountDownLatch(selected.size)
    selected.foreach { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit = {
          try Cached.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name"))
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          } finally done.countDown()
        }
      })
    }
    done.await()
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    Fits.dumpDir = Some(sfDir)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
