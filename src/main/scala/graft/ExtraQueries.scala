package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ohlcv.{Encode, Features, TimeSeriesOps, Windows}
import graft.multimodal.Multimodal
import graft.sim.Lsh
import graft.Queries.Q
import graft.Rounding.{pround, sqlRound}
import graft.VectorTextQueries.{arrLit, dlit}

/** Second query batch: positional filters, union+dedup, train/val split,
  * Savitzky–Golay, LSH approx-kNN, weighted split-vector distance, IVF
  * assignment, audio-stub frames, and the full flagship forecast with a
  * complete DuckDB oracle.
  *
  * Oracles that need model constants (savgol coefficients, LSH planes,
  * IVF centroids) embed them as SQL literals generated from the very same
  * Scala arrays the engine uses — `Double.toString` round-trips exactly,
  * so both engines evaluate identical IEEE constants.
  */
object ExtraQueries {

  /** q204's fitted PCA matrix and q262's whitened one, per sf dir. The
    * first execution per dataset in a JVM fits, sign-canonicalizes,
    * quantizes and saves the matrix through the S5 artifact round-trip;
    * later executions reuse it, as the reference precomputes its
    * embedding corpus once. The fit is bit-reproducible
    * (Encode.pcaMatrix: canonicalized + 1e-9-quantized), so reuse is
    * value-identical to refit and the dynamic oracle reads the same
    * literals either way (ArtifactSpec pins miss → hit and refit
    * equality).
    */
  private[graft] val PcaMatrices = new Fits.Slot[Array[Array[Double]]]
  private val WhitenedMatrices = new Fits.Slot[Array[Array[Double]]]

  /** q204's fit-sample modulus for U users: keep ~targetUsers series in
    * the PCA fit regardless of corpus size, never below the historical
    * 1-in-7 (so the verify/bench corpora, U ≤ 7·targetUsers, behave
    * exactly as before the cap existed). Pinned by FitModulusSpec.
    */
  private[graft] def fitModulus(users: Long, targetUsers: Long = 215L): Long =
    math.max(7L, (users + targetUsers - 1) / targetUsers)

  // Flagship constants shared by the flagship Q block and q204Pipeline.
  private[graft] val FlagSeqLen = 24
  private[graft] val FlagPred = 12
  private[graft] val FlagStride = 24
  private[graft] val FlagDim = 6

  /** Fit (or reuse) a flagship encoder matrix for `d` in `slot`.
    * Sample at the SERIES level so the key filter prunes before the
    * window pipeline even runs, then thin rows with an explicit fraction,
    * so the encoder's single moments scan is the only pass over the
    * window pipeline (no count() pass, no persist of the wide z-array
    * frame). The user modulus is derived from the corpus (one
    * column-pruned distinct-count, the same planning action q207 pays)
    * so the fit SAMPLE IS CAPPED at ~215 series regardless of corpus
    * size — a 24-dim covariance converges long before that — instead of
    * growing as a fixed 1-in-7 fraction. At the verify/bench corpora
    * (U ≤ 1500) the modulus is exactly the historical 7, so hashes are
    * unchanged; the cap engages only past ~1500 users. The modulus
    * derives deterministically from the dir's corpus, so a stored fit
    * skips the users-count pass too.
    */
  private def flagshipEncoder(s: SparkSession, d: String,
      slot: Fits.Slot[Array[Array[Double]]],
      encoder: (DataFrame, String, Int, Int, Option[Double]) => Array[Array[Double]])
      : Array[Array[Double]] =
    slot.fit(d, reuse = true) {
      val users = Tables.events(s, d).select("user_id").distinct().count()
      val zwins = Windows.slidingZscored(
        Flagship.filledSeries(s, d)
          .filter(col("user_id") % lit(fitModulus(users)) === 0),
        "user_id", "idx", "close", FlagSeqLen)
        .filter(col("scale") > 1e-6)
        .select(col("zvalues").cast("array<double>").as("z"))
      val fitted = encoder(zwins, "z", FlagSeqLen, FlagDim, Some(0.35))
      val path = java.nio.file.Files
        .createTempDirectory("graft_encoder").toString + "/matrix"
      Encode.saveMatrix(s, fitted, path)
      Encode.loadMatrix(s, path)
    }

  /** q204's exact registered pipeline: fit (or reuse) the PCA matrix,
    * then build the lazy scored-query frame over it.
    */
  def q204Pipeline(s: SparkSession, d: String): DataFrame = {
    val m = flagshipEncoder(s, d, PcaMatrices,
      (z, c, n, k, f) => Encode.pcaMatrix(z, c, n, k, sampleFraction = f))
    Flagship.scoredQueries(s, d, metric = "l1", seqLen = FlagSeqLen,
      predWindow = FlagPred, stride = FlagStride, k = 2, embedDim = FlagDim,
      projection = Some(m))
      .select(col("q_key"), col("q_start"),
        pround(col("mae_err"), 6).as("mae_err"))
      .orderBy("q_key", "q_start")
  }

  /** DuckDB L1 over two list expressions (numeric struct indices —
    * list_zip yields unnamed structs).
    */
  private def sqlL1(a: String, b: String): String =
    s"list_sum([abs(z[1] - z[2]) FOR z IN list_zip($a, $b)])"

  // ------------------------------------------------------------------
  // Positional / set-op / split operators (P2, P3, P7 via q-series, U1, M7)
  // ------------------------------------------------------------------

  private val positional: Seq[Q] = Seq(
    Q("q16_warmup_filter",
      (s, d) =>
        TimeSeriesOps.dropWarmup(Tables.events(s, d), "user_id", "ts", days = 7)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            min(unix_timestamp(col("ts"))).as("first_s"))
          .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(floor(epoch(min(ts))) AS BIGINT) AS first_s
             |FROM (SELECT *, min(ts) OVER (PARTITION BY user_id) AS mn FROM events)
             |WHERE ts >= mn + INTERVAL 7 DAY
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("q17_head_fraction",
      (s, d) =>
        TimeSeriesOps.dropHeadFraction(Tables.events(s, d), "user_id", "event_id", 0.1)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), min("event_id").as("first_event"))
          .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n, min(event_id) AS first_event
             |FROM (SELECT user_id, event_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
             |    count(*) OVER (PARTITION BY user_id) AS cnt
             |  FROM events)
             |WHERE rn > floor(cnt * 0.1)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("q18_union_dedup",
      (s, d) => {
        // U1 incremental-merge semantics: two overlapping fetches, newest
        // fetch wins on conflict (dedup keep-last by arrival leg).
        val ev = Tables.events(s, d)
        val old = ev.filter(col("event_id") % 10 < 7).withColumn("src", lit(0))
        val neu = ev.filter(col("event_id") % 10 >= 5).withColumn("src", lit(1))
        TimeSeriesOps.dedupKeepLast(old.unionByName(neu), Seq("event_id"), col("src"))
          .groupBy("src")
          .agg(count(lit(1)).as("n"), min("event_id").as("min_id"), max("event_id").as("max_id"))
          .orderBy("src")
      },
      Some("""SELECT src, count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id
             |FROM (
             |  SELECT event_id, src FROM (
             |    SELECT event_id, 0 AS src FROM events WHERE event_id % 10 < 7
             |    UNION ALL
             |    SELECT event_id, 1 AS src FROM events WHERE event_id % 10 >= 5)
             |  QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY src DESC) = 1)
             |GROUP BY src ORDER BY src""".stripMargin)),

    Q("q63_dropna",
      (s, d) => {
        // P4 dropna: fabricate nulls deterministically (events has none),
        // then na.drop over the affected columns.
        val ev = Tables.events(s, d)
          .withColumn("value", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
          .withColumn("event_type", when(col("event_id") % 11 === 0, lit(null)).otherwise(col("event_type")))
        ev.na.drop(Seq("value", "event_type"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), pround(sum("value"), 4).as("sum_value"))
          .orderBy("user_id")
      },
      Some(s"""SELECT user_id, count(*) AS n, ${sqlRound("sum(value)", 4)} AS sum_value
              |FROM events
              |WHERE event_id % 7 <> 0 AND event_id % 11 <> 0
              |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("q19_tail_split",
      (s, d) =>
        Windows.withTailSplit(Tables.events(s, d), "user_id", "event_id", 0.15)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"),
            sum(col("is_val").cast("long")).as("n_val"))
          .orderBy("user_id"),
      // CAST: DuckDB's sum over INTEGER yields HUGEINT; Spark emits BIGINT.
      Some("""SELECT user_id, count(*) AS n,
             |  CAST(sum(CASE WHEN rd <= ceil(cnt * 0.15) THEN 1 ELSE 0 END) AS BIGINT) AS n_val
             |FROM (SELECT user_id,
             |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rd,
             |    count(*) OVER (PARTITION BY user_id) AS cnt
             |  FROM events)
             |GROUP BY user_id ORDER BY user_id""".stripMargin)))

  // ------------------------------------------------------------------
  // Savitzky–Golay (W5) with generated-coefficient oracle
  // ------------------------------------------------------------------

  private val savgol: Seq[Q] = {
    val design = Features.SavgolDesign(21, 4)
    val coeffs = design.centerWeights
    val convTerms = coeffs.zipWithIndex.map { case (c, j) =>
      val off = j - 10
      val term =
        if (off < 0) s"lag(close, ${-off}) OVER w"
        else if (off == 0) "close"
        else s"lead(close, $off) OVER w"
      s"($term) * ${dlit(c)}"
    }.mkString(" + ")
    Seq(Q("q28_savgol",
      (s, d) => {
        val filled = TimeSeriesOps.ffill(
          Queries.hourlyResampled(s, d, emitEmpty = true), "user_id", "bucket_s", Seq("close"))
          .select("user_id", "bucket_s", "close")
        val sg = Features.withSavgol(filled, "user_id", "bucket_s", "close", "sg", 21, 4)
        val wAsc = Window.partitionBy("user_id").orderBy(col("bucket_s").asc)
        val wDesc = Window.partitionBy("user_id").orderBy(col("bucket_s").desc)
        sg.withColumn("__ra2", row_number().over(wAsc))
          .withColumn("__rd2", row_number().over(wDesc))
          .filter(col("__ra2") > 10 && col("__rd2") > 10) // interior rows only
          .select(col("user_id"), col("bucket_s"), pround(col("sg"), 6).as("sg"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH ${Queries.FilledCloseCte}
              |SELECT user_id, bucket_s, ${sqlRound("sgv", 6)} AS sg FROM (
              |  SELECT user_id, bucket_s, $convTerms AS sgv,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s ASC) AS ra,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s DESC) AS rd
              |  FROM filled
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s))
              |WHERE ra > 10 AND rd > 10
              |ORDER BY user_id, bucket_s""".stripMargin)),

      // The mode="interp" BOUNDARY (scipy _fit_edges): the first/last
      // half=10 rows evaluate the degree-4 polynomial fitted to the
      // first/last 21 values. The fit-hat rows are driver-computed
      // constants (normal-equations solve), so the oracle carries them
      // as list literals — one list_dot_product against the per-user
      // head/tail value lists, same sequential float order as the Spark
      // edge expression. Closes the one W5 case q28's interior-only
      // oracle left spec'd-but-unhashed.
      Q("q205_savgol_edges",
        (s, d) => {
          val filled = TimeSeriesOps.ffill(
            Queries.hourlyResampled(s, d, emitEmpty = true), "user_id", "bucket_s", Seq("close"))
            .select("user_id", "bucket_s", "close")
          val sg = Features.withSavgol(filled, "user_id", "bucket_s", "close", "sg", 21, 4)
          val wAsc = Window.partitionBy("user_id").orderBy(col("bucket_s").asc)
          val wDesc = Window.partitionBy("user_id").orderBy(col("bucket_s").desc)
          sg.withColumn("__ra2", row_number().over(wAsc))
            .withColumn("__rd2", row_number().over(wDesc))
            .filter(col("__ra2") <= 10 || col("__rd2") <= 10) // edge rows only
            .select(col("user_id"), col("bucket_s"), pround(col("sg"), 6).as("sg"))
            .orderBy("user_id", "bucket_s")
        },
        Some {
          def caseRows(posOf: Int => Int, rowVar: String, listVar: String) =
            (1 to 10).map { r =>
              s"WHEN $rowVar = $r THEN list_dot_product(${arrLit(design.weightsAt(posOf(r)))}, $listVar)"
            }.mkString("CASE ", " ", " END")
          s"""WITH ${Queries.FilledCloseCte},
             |ord AS (SELECT user_id, bucket_s, close,
             |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s ASC) AS ra,
             |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s DESC) AS rd
             |  FROM filled),
             |heads AS (SELECT user_id, list(close ORDER BY bucket_s ASC) AS hv
             |  FROM ord WHERE ra <= 21 GROUP BY user_id),
             |tails AS (SELECT user_id, list(close ORDER BY bucket_s ASC) AS tv
             |  FROM ord WHERE rd <= 21 GROUP BY user_id),
             |edge AS (
             |  SELECT o.user_id, o.bucket_s,
             |    ${caseRows(r => r - 1, "o.ra", "h.hv")} AS sgv
             |  FROM ord o JOIN heads h USING (user_id) WHERE o.ra <= 10
             |  UNION ALL
             |  SELECT o.user_id, o.bucket_s,
             |    ${caseRows(r => 21 - r, "o.rd", "t.tv")} AS sgv
             |  FROM ord o JOIN tails t USING (user_id)
             |  WHERE o.rd <= 10 AND o.ra > 10)
             |SELECT user_id, bucket_s, ${sqlRound("sgv", 6)} AS sg
             |FROM edge ORDER BY user_id, bucket_s""".stripMargin
        }))
  }

  // ------------------------------------------------------------------
  // ANN / weighted distance / IVF (scale path of the search surface)
  // ------------------------------------------------------------------

  private val ann: Seq[Q] = {
    val LshPlanes = 4
    val LshSeed = 42L
    val planes = Encode.randomProjectionMatrix(64, LshPlanes, LshSeed)
    def sigSql(v: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product($v, ${arrLit(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")

    val IvfSeed = 123L
    val centroids = Encode.randomProjectionMatrix(64, 8, IvfSeed)
    val dExprs = centroids.zipWithIndex.map { case (c, i) =>
      s"list_sum([(z[1] - z[2]) * (z[1] - z[2]) FOR z IN list_zip(v, ${arrLit(c)})]) AS d$i"
    }.mkString(",\n    ")
    val best = (0 until 8).map(i => s"d$i").mkString("least(", ", ", ")")
    val ivfCase = (0 until 8).map(i => s"WHEN d$i = best THEN $i").mkString("CASE ", " ", " END")

    Seq(
      Q("q34_lsh_knn",
        (s, d) => {
          val emb = Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          val corpus = emb.filter(col("vec_id") >= 5)
          val queries = emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
          Lsh.approxKnn(corpus, queries, "vec_id", "embedding", "query_id", "query_vec",
            k = 3, metricName = "l2", planes = LshPlanes, dim = 64, seed = LshSeed)
            .select(col("query_id"), col("rank"), col("vec_id"), pround(col("dist"), 6).as("dist"))
            .orderBy("query_id", "rank")
        },
        Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                |c AS (SELECT vec_id, v, ${sigSql("v")} AS sig FROM e WHERE vec_id >= 5),
                |q AS (SELECT vec_id AS query_id, v AS qv, ${sigSql("v")} AS sig
                |  FROM e WHERE vec_id < 5),
                |j AS (SELECT query_id, c.vec_id, list_distance(c.v, q.qv) AS dist
                |  FROM c JOIN q ON c.sig = q.sig),
                |ranked AS (SELECT query_id, vec_id, dist,
                |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
                |  FROM j)
                |SELECT query_id, rank, vec_id, ${sqlRound("dist", 6)} AS dist
                |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

      Q("q35_weighted_split_l1",
        (s, d) => {
          val emb = Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          val queries = emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
          val corpus = emb.filter(col("vec_id") >= 5)
          val crossed = corpus.crossJoin(broadcast(queries))
            .withColumn("dist", graft.ohlcv.Search.weightedSplitL1(
              col("embedding"), col("query_vec"), 32, 0.5))
          val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("vec_id").asc)
          crossed.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= 3)
            .select(col("query_id"), col("rank"), col("vec_id"), pround(col("dist"), 6).as("dist"))
            .orderBy("query_id", "rank")
        },
        Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
                |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
                |scored AS (SELECT query_id, vec_id,
                |    ${sqlL1("v[1:32]", "qv[1:32]")}
                |      + 0.5 * ${sqlL1("v[33:64]", "qv[33:64]")} AS dist
                |  FROM c, q),
                |ranked AS (SELECT query_id, vec_id, dist,
                |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
                |  FROM scored)
                |SELECT query_id, rank, vec_id, ${sqlRound("dist", 6)} AS dist
                |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

      Q("q68_weighted_split_cosine",
        (s, d) => {
          val emb = Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          val queries = emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
          val corpus = emb.filter(col("vec_id") >= 5)
          val crossed = corpus.crossJoin(broadcast(queries))
            .withColumn("dist", graft.ohlcv.Search.weightedSplitCosineDist(
              col("embedding"), col("query_vec"), 32, 0.5))
          val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("vec_id").asc)
          crossed.withColumn("rank", row_number().over(w))
            .filter(col("rank") <= 3)
            .select(col("query_id"), col("rank"), col("vec_id"), pround(col("dist"), 6).as("dist"))
            .orderBy("query_id", "rank")
        },
        Some {
          def cosSql(a: String, b: String): String =
            s"(list_dot_product($a, $b) / (greatest(sqrt(list_dot_product($a, $a)), 1e-8) * greatest(sqrt(list_dot_product($b, $b)), 1e-8)))"
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
             |c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
             |scored AS (SELECT query_id, vec_id,
             |    1.0 - (${cosSql("v[1:32]", "qv[1:32]")}
             |      + 0.5 * ${cosSql("v[33:64]", "qv[33:64]")}) / 1.5 AS dist
             |  FROM c, q),
             |ranked AS (SELECT query_id, vec_id, dist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
             |  FROM scored)
             |SELECT query_id, rank, vec_id, ${sqlRound("dist", 6)} AS dist
             |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
        }),

      Q("q36_ivf_assign",
        (s, d) =>
          Tables.embeddings(s, d)
            .select(col("vec_id"),
              Lsh.ivfAssign(col("embedding").cast("array<double>"), centroids).as("ivf_list"))
            .orderBy("vec_id"),
        Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
                |scored AS (SELECT vec_id,
                |    $dExprs
                |  FROM e),
                |b AS (SELECT *, $best AS best FROM scored)
                |SELECT vec_id, $ivfCase AS ivf_list
                |FROM b ORDER BY vec_id""".stripMargin)),

      // IVF-probed kNN: corpus pinned to nearest-centroid lists, queries
      // probe their 2 nearest lists, exact L2 re-rank inside. Oracle picks
      // the two probe lists with tie-safe lowest-index CASE chains — the
      // same order as the engine's (d2, list) struct sort.
      Q("q104_ivf_knn",
        (s, d) => {
          val emb = Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          val corpus = emb.filter(col("vec_id") >= 5)
          val queries = emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
          Lsh.ivfKnn(corpus, queries, "vec_id", "embedding", "query_id", "query_vec",
            k = 3, metricName = "l2", centroids = centroids, nprobe = 2)
            .select(col("query_id"), col("rank"), col("vec_id"), pround(col("dist"), 6).as("dist"))
            .orderBy("query_id", "rank")
        },
        Some {
          val second = (0 until 8).map(i => s"CASE WHEN $i = i1 THEN NULL ELSE d$i END")
            .mkString("least(", ", ", ")")
          val i2Case = (0 until 8).map(i => s"WHEN d$i = second AND i1 <> $i THEN $i")
            .mkString("CASE ", " ", " END")
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cs AS (SELECT vec_id, v, $dExprs FROM e WHERE vec_id >= 5),
             |cb AS (SELECT *, $best AS best FROM cs),
             |c AS (SELECT vec_id, v, $ivfCase AS list FROM cb),
             |qs AS (SELECT vec_id AS query_id, v AS qv, $dExprs
             |  FROM e WHERE vec_id < 5),
             |qb AS (SELECT *, $best AS best FROM qs),
             |q1 AS (SELECT *, $ivfCase AS i1 FROM qb),
             |q2 AS (SELECT *, $second AS second FROM q1),
             |q AS (SELECT query_id, qv, i1, $i2Case AS i2 FROM q2),
             |j AS (SELECT query_id, c.vec_id, list_distance(c.v, q.qv) AS dist
             |  FROM c JOIN q ON c.list = q.i1 OR c.list = q.i2),
             |ranked AS (SELECT query_id, vec_id, dist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
             |  FROM j)
             |SELECT query_id, rank, vec_id, ${sqlRound("dist", 6)} AS dist
             |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
        }),

      // The COMPLETE production ANN tier in one plan: IVF coarse
      // quantizer (8 centroid literals, nprobe=2) prunes the corpus to
      // the probed lists → PQ/ADC scans the survivors in the
      // compressed domain (m=4 × 16-dim codebooks) → the ADC top-10 is
      // re-ranked by TRUE L2 for the final top-5. At 100 TB: the coarse
      // assignment is a pure codegen projection, the candidate filter
      // drops ~6/8 of the corpus before any distance math, the ADC join
      // touches only (id, sub, code) triples, and the exact re-rank
      // reads just 10 full vectors.
      Q("q191_ivfpq_rerank",
        (s, d) => {
          import graft.sim.Pq
          val emb = Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          val corpus = emb.filter(col("vec_id") >= 5)
            .withColumn("list", Lsh.ivfAssign(col("embedding"), centroids))
          val query = emb.filter(col("vec_id") === 4)
            .select(col("embedding").as("query_vec"))
          val probed = query.select(
            explode(Lsh.ivfProbe(col("query_vec"), centroids, nprobe = 2))
              .as("list"))
          val cand = corpus.join(broadcast(probed), Seq("list"))
            .select(col("vec_id"), col("embedding"))
          val cb = Pq.codebook(emb.filter(col("vec_id") < 4), "vec_id",
            "embedding", m = 4, subDim = 16)
          val codes = Pq.encode(cand, "vec_id", "embedding", cb, m = 4, subDim = 16)
          val shortlist = Pq.adcTopK(codes, "vec_id", cb, query, "query_vec",
            m = 4, subDim = 16, k = 10)
          shortlist.join(cand, Seq("vec_id"))
            .crossJoin(broadcast(query))
            .select(col("vec_id"),
              pround(sqrt(org.apache.spark.sql.graft.GraftExpressions
                .arraySqDiff(col("embedding"), col("query_vec"))), 6).as("dist"))
            .orderBy(col("dist").asc, col("vec_id").asc).limit(5)
            .withColumn("rank", row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("dist").asc, col("vec_id").asc)))
            .select(col("rank"), col("vec_id"), col("dist"))
        },
        Some {
          val second = (0 until 8).map(i => s"CASE WHEN $i = i1 THEN NULL ELSE d$i END")
            .mkString("least(", ", ", ")")
          val i2Case = (0 until 8).map(i => s"WHEN d$i = second AND i1 <> $i THEN $i")
            .mkString("CASE ", " ", " END")
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cs AS (SELECT vec_id, v, $dExprs FROM e WHERE vec_id >= 5),
             |cbst AS (SELECT *, $best AS best FROM cs),
             |corpl AS (SELECT vec_id, v, $ivfCase AS list FROM cbst),
             |qs AS (SELECT v AS qv, $dExprs FROM e WHERE vec_id = 4),
             |qb AS (SELECT *, $best AS best FROM qs),
             |q1 AS (SELECT *, $ivfCase AS i1 FROM qb),
             |q2 AS (SELECT *, $second AS second FROM q1),
             |q AS (SELECT qv, i1, $i2Case AS i2 FROM q2),
             |cand AS (SELECT c.vec_id, c.v FROM corpl c, q
             |  WHERE c.list = q.i1 OR c.list = q.i2),
             |subs AS (SELECT unnest(range(0, 4)) AS sub),
             |cbv AS (SELECT vec_id AS code, v FROM e WHERE vec_id < 4),
             |cb AS (SELECT sub, code, v[(sub*16+1):(sub*16+16)] AS sv FROM cbv, subs),
             |csx AS (SELECT vec_id, sub, v[(sub*16+1):(sub*16+16)] AS sv
             |  FROM cand, subs),
             |dd AS (SELECT csx.vec_id, csx.sub, cb.code,
             |    list_sum(list_transform(range(1, 17),
             |      i -> (csx.sv[i]-cb.sv[i])*(csx.sv[i]-cb.sv[i]))) AS d2
             |  FROM csx JOIN cb ON csx.sub = cb.sub),
             |codes AS (SELECT vec_id, sub, code FROM
             |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
             |     ORDER BY d2 ASC, code ASC) AS rn FROM dd)
             |  WHERE rn = 1),
             |qsx AS (SELECT sub, qv[(sub*16+1):(sub*16+16)] AS qsv FROM q, subs),
             |lut AS (SELECT cb.sub, cb.code,
             |    list_sum(list_transform(range(1, 17),
             |      i -> (qsx.qsv[i]-cb.sv[i])*(qsx.qsv[i]-cb.sv[i]))) AS d2
             |  FROM cb JOIN qsx ON cb.sub = qsx.sub),
             |adc AS (SELECT c.vec_id, list_sum(list(l.d2 ORDER BY c.sub)) AS adc
             |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.code
             |  GROUP BY 1),
             |short AS (SELECT vec_id FROM
             |  (SELECT vec_id, row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS r
             |   FROM adc) WHERE r <= 10),
             |rr AS (SELECT cand.vec_id,
             |    ${sqlRound("list_distance(cand.v, q.qv)", 6)} AS dist
             |  FROM cand JOIN short USING (vec_id), q)
             |SELECT row_number() OVER (ORDER BY dist ASC, vec_id ASC) AS rank,
             |  vec_id, dist
             |FROM rr
             |QUALIFY rank <= 5
             |ORDER BY rank""".stripMargin
        }),

      // Label-noise screening via neighborhood label agreement
      // (confident-learning flavored, public): each vector's 5 nearest
      // SAME-BUCKET neighbors (hyperplane LSH — the scale path; exact
      // all-pairs would be quadratic) vote with their labels; a label's
      // health is the POOLED agreement Σsame/Σneighbors and the count of
      // vectors where under half the neighbors agree. Every metric is a
      // ratio/compare of exact integers — engine-exact.
      Q("q195_label_agreement",
        (s, d) => {
          val emb = Tables.embeddings(s, d)
            .select(col("vec_id"), col("label"),
              col("embedding").cast("array<double>").as("v"))
          val b = Lsh.withBucket(emb, "v", LshPlanes, 64, LshSeed)
          val nb = b.as("a").join(b.as("n"),
              col("a.lsh_bucket") === col("n.lsh_bucket") &&
                col("a.vec_id") =!= col("n.vec_id"))
            .select(col("a.vec_id").as("vid"), col("a.label").as("la"),
              col("n.vec_id").as("nid"), col("n.label").as("ln"),
              pround(org.apache.spark.sql.graft.GraftExpressions.arrayDot(col("a.v"), col("n.v")) /
                (greatest(sqrt(org.apache.spark.sql.graft.GraftExpressions.arrayDot(col("a.v"), col("a.v"))), lit(1e-8)) *
                  greatest(sqrt(org.apache.spark.sql.graft.GraftExpressions.arrayDot(col("n.v"), col("n.v"))), lit(1e-8))), 6)
                .as("sim"))
          val w5 = Window.partitionBy("vid")
            .orderBy(col("sim").desc, col("nid").asc)
          val votes = nb.withColumn("rk", row_number().over(w5))
            .filter(col("rk") <= 5)
            .groupBy("vid", "la")
            .agg(count(lit(1)).as("n_nb"),
              sum((col("ln") === col("la")).cast("long")).as("n_same"))
          votes.groupBy(col("la").as("label"))
            .agg(count(lit(1)).as("n_vecs"),
              pround(sum(col("n_same")).cast("double") / sum(col("n_nb")), 6)
                .as("pooled_agreement"),
              sum((col("n_same") * 2 < col("n_nb")).cast("long")).as("n_suspect"))
            .orderBy("label")
        },
        Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               |  FROM embeddings),
               |b AS (SELECT vec_id, label, v, ${sigSql("v")} AS bkt FROM e),
               |nb AS (SELECT a.vec_id AS vid, a.label AS la,
               |    n.vec_id AS nid, n.label AS ln,
               |    ${sqlRound(VectorTextQueries.sqlCosine("a.v", "n.v"), 6)} AS sim
               |  FROM b a JOIN b n ON a.bkt = n.bkt AND a.vec_id <> n.vec_id),
               |top5 AS (SELECT vid, la, ln FROM (
               |    SELECT vid, la, ln,
               |      row_number() OVER (PARTITION BY vid
               |        ORDER BY sim DESC, nid ASC) AS rk
               |    FROM nb) WHERE rk <= 5),
               |votes AS (SELECT vid, la, CAST(count(*) AS BIGINT) AS n_nb,
               |    CAST(sum(CASE WHEN ln = la THEN 1 ELSE 0 END) AS BIGINT) AS n_same
               |  FROM top5 GROUP BY vid, la)
               |SELECT la AS label, CAST(count(*) AS BIGINT) AS n_vecs,
               |  ${sqlRound("CAST(sum(n_same) AS DOUBLE) / sum(n_nb)", 6)} AS pooled_agreement,
               |  CAST(sum(CASE WHEN n_same * 2 < n_nb THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
               |FROM votes GROUP BY la ORDER BY label""".stripMargin)),

      // ANN recall eval — the vector-tier counterpart of q229's dedup
      // eval: recall@10 of the LSH-bucketed k-NN (q34's exact bucketing,
      // same planes/seed) against the exact brute-force top-10, per
      // query. The query set is FIXED-BUDGET, not fixed-fraction (the
      // q229 lesson, learned on q224's 11.9× @100× octave row): an
      // overflow-safe multiplicative hash threshold derived from one
      // corpus count keeps the expected query count ≈ 64 regardless of
      // corpus size, so the brute-force truth tier costs O(64·N) —
      // corpus-LINEAR — while a fixed-fraction sample would be O(N²/50).
      // Both tiers break distance ties by (dist, vec_id); parity of the
      // exact doubles across engines is the same sequential-sum argument
      // q30/q31/q34 already rest on. 100 TB shape: one count, one
      // filter, a 64-row broadcast against the corpus for the truth
      // tier, and q34's bucket equi-join for the approx tier.
      Q("q236_ann_recall",
        (s, d) => {
          val emb = Tables.embeddings(s, d)
            .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
          val thr = emb.agg(count(lit(1)).as("c"))
            .select(floor(lit(64L * 4294967296L).cast("double") /
              col("c").cast("double")).as("thr"))
          val tagged = Cached.persist(emb.crossJoin(broadcast(thr))
            .withColumn("is_q", Hashing.hash32(col("vec_id")) < col("thr")))
          val queries = tagged.filter(col("is_q"))
            .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
          val corpus = tagged.filter(!col("is_q")).select("vec_id", "embedding")
          val crossed = corpus.crossJoin(broadcast(queries))
            .withColumn("dist", graft.ohlcv.Search.metric("l2")(
              col("embedding"), col("query_vec")))
          val w = Window.partitionBy("query_id")
            .orderBy(col("dist").asc, col("vec_id").asc)
          val truth = crossed.withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= 10).select("query_id", "vec_id")
          val approx = Lsh.approxKnn(corpus, queries, "vec_id", "embedding",
            "query_id", "query_vec", k = 10, metricName = "l2",
            planes = LshPlanes, dim = 64, seed = LshSeed)
            .select("query_id", "vec_id")
          val hits = truth.join(approx, Seq("query_id", "vec_id"))
            .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
          queries.select("query_id").join(hits, Seq("query_id"), "left")
            .select(col("query_id"),
              coalesce(col("n_hits"), lit(0L)).as("n_hits"),
              pround(coalesce(col("n_hits"), lit(0L)).cast("double") / lit(10.0), 6)
                .as("recall_at_10"))
            .orderBy("query_id")
        },
        Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
               |nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM e),
               |thr AS (SELECT floor(CAST(64 * 4294967296 AS DOUBLE)
               |    / CAST(c AS DOUBLE)) AS t FROM nn),
               |q AS (SELECT vec_id AS query_id, v AS qv, ${sigSql("v")} AS sig
               |  FROM e, thr WHERE ${Hashing.sqlHash32("vec_id")} < t),
               |c AS (SELECT vec_id, v, ${sigSql("v")} AS sig
               |  FROM e, thr WHERE ${Hashing.sqlHash32("vec_id")} >= t),
               |bt AS (SELECT query_id, vec_id FROM (
               |    SELECT q.query_id, c.vec_id,
               |      row_number() OVER (PARTITION BY q.query_id
               |        ORDER BY list_distance(c.v, q.qv) ASC, c.vec_id ASC) AS rnk
               |    FROM c CROSS JOIN q) WHERE rnk <= 10),
               |ap AS (SELECT query_id, vec_id FROM (
               |    SELECT q.query_id, c.vec_id,
               |      row_number() OVER (PARTITION BY q.query_id
               |        ORDER BY list_distance(c.v, q.qv) ASC, c.vec_id ASC) AS rnk
               |    FROM c JOIN q ON c.sig = q.sig) WHERE rnk <= 10),
               |h AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_hits
               |  FROM bt JOIN ap USING (query_id, vec_id) GROUP BY query_id)
               |SELECT query_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
               |  ${sqlRound("CAST(coalesce(n_hits, 0) AS DOUBLE) / 10.0", 6)} AS recall_at_10
               |FROM q LEFT JOIN h USING (query_id) ORDER BY query_id""".stripMargin)))
  }

  // ------------------------------------------------------------------
  // Multimodal: audio frame sampling stub (plumbing real, codec stubbed)
  // ------------------------------------------------------------------

  private val audio: Seq[Q] = Seq(
    Q("q51_audio_frames",
      (s, d) => {
        // ASCII guard: the stub decoders sample UTF-8 BYTES while the
        // oracle models Unicode CODEPOINTS — identical only for ASCII, so
        // both sides filter to it (the synthetic corpus is all-ASCII; the
        // guard makes the parity contract explicit rather than latent).
        val docs = Tables.documents(s, d)
          .filter(length(col("text")) >= 4 && col("text").rlike("^[\\x00-\\x7F]*$"))
          .withColumn("payload", col("text").cast("binary"))
        Multimodal.withDecodedFeatures(docs, "payload", "frames",
          new Multimodal.StubAudioFrameSampler(4))
          .select(col("doc_id"), posexplode(col("frames")))
          .select(col("doc_id"), col("pos").as("frame"),
            pround(col("col").cast("double"), 3).as("level"))
          .orderBy("doc_id", "frame")
      },
      // Float arithmetic on the stub side -> compare at 3 decimals.
      Some("""WITH codes AS (SELECT doc_id,
             |    [unicode(c) FOR c IN string_split(text, '')] AS cs,
             |    len(text) // 4 AS step
             |  FROM documents WHERE len(text) >= 4 AND regexp_matches(text, '^[\x00-\x7f]*$')),
             |f AS (SELECT doc_id, unnest(generate_series(0, 3)) AS frame, cs, step FROM codes)
             |SELECT doc_id, frame,
             |  floor(((CAST(list_sum(cs[(frame * step + 1):(frame * step + step)]) AS FLOAT) / step)::DOUBLE) * 1e3 + 0.5) / 1e3 AS level
             |FROM f ORDER BY doc_id, frame""".stripMargin)),

    // Video leg of the multimodal trio: uniform temporal frame sampling
    // (i -> floor(i*nFrames/k)) over fixed-size byte "frames"; the codec
    // is stubbed, the sampling arithmetic and plumbing are real.
    Q("q108_video_frames",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .filter(length(col("text")) >= 8 && col("text").rlike("^[\\x00-\\x7F]*$"))
          .withColumn("payload", col("text").cast("binary"))
        Multimodal.withDecodedFeatures(docs, "payload", "frames",
          new Multimodal.StubVideoFrameSampler(4, 8))
          .select(col("doc_id"), posexplode(col("frames")))
          .select(col("doc_id"), col("pos").as("frame"),
            pround(col("col").cast("double"), 3).as("level"))
          .orderBy("doc_id", "frame")
      },
      Some("""WITH codes AS (SELECT doc_id,
             |    [unicode(c) FOR c IN string_split(text, '')] AS cs,
             |    len(text) // 8 AS nf
             |  FROM documents WHERE len(text) >= 8 AND regexp_matches(text, '^[\x00-\x7f]*$')),
             |f AS (SELECT doc_id, unnest(generate_series(0, 3)) AS frame, cs, nf FROM codes)
             |SELECT doc_id, frame,
             |  floor(((CAST(list_sum(cs[((frame * nf // 4) * 8 + 1):((frame * nf // 4) * 8 + 8)]) AS FLOAT) / 8)::DOUBLE) * 1e3 + 0.5) / 1e3 AS level
             |FROM f ORDER BY doc_id, frame""".stripMargin)))

  // ------------------------------------------------------------------
  // Flagship forecast with a complete SQL oracle (J2+F7+F8+A7 end-to-end)
  // ------------------------------------------------------------------

  private val flagship: Seq[Q] = {
    val SeqLen = FlagSeqLen
    val Pred = FlagPred
    val Stride = FlagStride
    val Dim = FlagDim
    val Bucket = SeqLen / Dim
    val meanPool = (0 until Dim).map { i =>
      s"list_sum(z[(${i * Bucket} + 1):(${i * Bucket} + $Bucket)]) / $Bucket"
    }.mkString("[", ", ", "]")
    def sqlDist(metric: String): String = metric match {
      case "l1" => sqlL1("c.e", "q.qe")
      case "cosine_dist" =>
        "1.0 - (list_dot_product(c.e, q.qe) / " +
          "(greatest(sqrt(list_dot_product(c.e, c.e)), 1e-8) * " +
          "greatest(sqrt(list_dot_product(q.qe, q.qe)), 1e-8)))"
    }
    // LSH-accelerated variant (q101): hyperplane signatures over the same
    // 6-dim embeddings; the candidate join gains a bucket equality, the
    // re-rank stays exact. Planes are plan+SQL literals from one matrix.
    val FlagPlanes = Encode.randomProjectionMatrix(Dim, 3, 77L)
    val flagSigSql: String => String = v =>
      FlagPlanes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN list_dot_product($v, ${arrLit(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    def flagshipQ(name: String, metric: String,
        lshPlanes: Option[Array[Array[Double]]] = None): Q = Q(name,
      (s, d) =>
        Flagship.scoredQueries(s, d, metric = metric, seqLen = SeqLen,
          predWindow = Pred, stride = Stride, k = 2, embedDim = Dim,
          lshPlanes = lshPlanes)
          .select(col("q_key"), col("q_start"), pround(col("mae_err"), 6).as("mae_err"))
          .orderBy("q_key", "q_start"),
      Some(flagshipSql(metric, rounded = true,
        lshSig = lshPlanes.map(_ => flagSigSql))))
    def flagshipSql(metric: String, rounded: Boolean,
        lshSig: Option[String => String] = None,
        embSql: String = meanPool): String =
      s"""WITH ${Queries.FilledCloseCte},
              |series AS (SELECT user_id, CAST(bucket_s / 3600 AS BIGINT) AS idx, close FROM filled),
              |win0 AS (SELECT user_id, idx AS start_idx,
              |    list(close) OVER (PARTITION BY user_id ORDER BY idx
              |      ROWS BETWEEN CURRENT ROW AND ${SeqLen - 1} FOLLOWING) AS vs
              |  FROM series),
              |win1 AS (SELECT user_id, start_idx, vs, list_sum(vs) / $SeqLen AS c
              |  FROM win0 WHERE len(vs) = $SeqLen),
              |win2 AS (SELECT user_id, start_idx, vs, c,
              |    sqrt(list_sum([(x - c) * (x - c) FOR x IN vs]) / $SeqLen) AS sc
              |  FROM win1),
              |wins AS (SELECT user_id, start_idx, vs, c, sc,
              |    [(x - c) / (sc + 1e-8) FOR x IN vs] AS z
              |  FROM win2 WHERE sc > 1e-6),
              |emb AS (SELECT user_id, start_idx, vs, c, sc, $embSql AS e FROM wins),
              |bounds AS (SELECT user_id, min(start_idx) AS mn, max(start_idx) AS mx
              |  FROM emb GROUP BY user_id),
              |corpus AS (SELECT e.*${lshSig.map(f => ", " + f("e.e") + " AS sig").getOrElse("")}
              |  FROM emb e JOIN bounds b USING (user_id)
              |  WHERE start_idx <= mx - $SeqLen),
              |queries AS (SELECT e.user_id, e.start_idx AS q_start, e.c AS qc, e.sc AS qsc, e.e AS qe${lshSig.map(f => ", " + f("e.e") + " AS qsig").getOrElse("")}
              |  FROM emb e JOIN bounds b USING (user_id)
              |  WHERE (start_idx - mn) % $Stride = 0 AND start_idx <= mx - $SeqLen),
              |scored AS (SELECT c.user_id, q.q_start, q.qc, q.qsc, c.start_idx, c.c AS mc, c.sc AS msc,
              |    ${sqlDist(metric)} AS dist
              |  FROM corpus c JOIN queries q ON c.user_id = q.user_id${lshSig.map(_ => " AND c.sig = q.qsig").getOrElse("")}
              |  WHERE c.start_idx <> q.q_start),
              |top AS (SELECT *, row_number() OVER (PARTITION BY user_id, q_start
              |    ORDER BY dist ASC, start_idx ASC) AS rank
              |  FROM scored),
              |follow AS (SELECT user_id, start_idx - $SeqLen AS match_start, vs[1:$Pred] AS fv
              |  FROM emb),
              |matches AS (SELECT t.user_id, t.q_start, t.qc, t.qsc, t.rank,
              |    [(v - t.mc) / (t.msc + 1e-8) FOR v IN f.fv] AS forecast
              |  FROM top t JOIN follow f
              |    ON t.user_id = f.user_id AND t.start_idx = f.match_start
              |  WHERE t.rank <= 2),
              |perq AS (SELECT user_id, q_start, qc, qsc,
              |    max(CASE WHEN rank = 1 THEN forecast END) AS f1,
              |    max(CASE WHEN rank = 2 THEN forecast END) AS f2
              |  FROM matches GROUP BY user_id, q_start, qc, qsc),
              |ens AS (SELECT user_id, q_start, qc, qsc,
              |    CASE WHEN f2 IS NULL THEN f1
              |         ELSE [(z[1] + z[2]) / 2.0 FOR z IN list_zip(f1[1:$Pred], f2[1:$Pred])]
              |    END AS forecast
              |  FROM perq),
              |tgt AS (SELECT e.user_id, e.q_start,
              |    [(v - e.qc) / (e.qsc + 1e-8) FOR v IN f.fv] AS target, e.forecast
              |  FROM ens e JOIN follow f
              |    ON e.user_id = f.user_id AND e.q_start = f.match_start)
              |SELECT user_id AS q_key, q_start,
              |  ${if (rounded) sqlRound(s"list_sum([abs(z[1] - z[2]) FOR z IN list_zip(forecast[1:$Pred], target[1:$Pred])]) / $Pred", 6)
                 else s"list_sum([abs(z[1] - z[2]) FOR z IN list_zip(forecast[1:$Pred], target[1:$Pred])]) / $Pred"} AS mae_err
              |FROM tgt ORDER BY q_key, q_start""".stripMargin
    // The learned encoders' oracle: the flagship with e = z·Mᵀ.
    def encodedFlagshipSql(m: Array[Array[Double]]): String =
      flagshipSql("l1", rounded = true, embSql =
        m.map(r => s"list_dot_product(z, ${arrLit(r)})").mkString("[", ", ", "]"))
    Seq(flagshipQ("q60_flagship_mae", "l1"),
      flagshipQ("q61_flagship_cosine", "cosine_dist"),
      flagshipQ("q101_flagship_lsh", "l1", lshPlanes = Some(FlagPlanes)),
      // A6 error summary over the same pipeline (mean / population std).
      Q("q62_mae_summary",
        (s, d) => {
          val scored = Flagship.scoredQueries(s, d, metric = "l1", seqLen = SeqLen,
            predWindow = Pred, stride = Stride, k = 2, embedDim = Dim)
          graft.ohlcv.Forecast.errorSummary(scored)
            .select(pround(col("err_mean"), 6).as("err_mean"),
              pround(col("err_std"), 6).as("err_std"))
        },
        Some(s"""SELECT ${sqlRound("avg(mae_err)", 6)} AS err_mean,
                |  ${sqlRound("stddev_pop(mae_err)", 6)} AS err_std
                |FROM (${flagshipSql("l1", rounded = false)})""".stripMargin)),

      // Learned-PCA encoder, end-to-end (SURVEY §7.2 step 5, the last
      // advertised encoder without its own oracle entry): fit PCA on the
      // corpus's z-scored windows (one moments scan + a plain-Scala
      // eigensolver, Encode.pcaMatrix), round-trip the component
      // matrix through the S5 parquet artifact, then run the FULL
      // flagship forecast with e = z·Mᵀ. The oracle is generated at dump
      // time (Q.oracleDyn) with the fitted matrix as list literals —
      // the q101 plan-literal technique with runtime-learned values, so
      // the hash check covers fit, artifact round-trip, AND the learned
      // projection's downstream search/forecast math.
      // REGISTERED SEMANTICS (round-10 verdict #3): fit-per-(dataset,
      // params), not fit-per-execution — the first run in a JVM fits and
      // materializes the S5 artifact, later runs reuse it (see
      // [[PcaMatrices]]); value-identical because the fit is
      // bit-reproducible, and the reference itself precomputes the
      // embedding corpus once rather than per query.
      Q("q204_flagship_pca",
        (s, d) => q204Pipeline(s, d),
        oracle = None,
        oracleDyn = Some(() => PcaMatrices.oracle("q204")(encodedFlagshipSql))),

      // WHITENED-PCA encoder, end-to-end (round-11 verdict #7: a second
      // learned encoder strengthening the one place the engine
      // SUBSTITUTES for the reference's VAE rather than matches it).
      // Fit = q204's PCA on the same capped sample; the fit's own
      // co-moments give each component's projection variance, and each
      // component is scaled to unit projection variance
      // (PCA-whitening — public preprocessing; L1/L2 in the whitened
      // space is the Mahalanobis view of neighbor search). Measured on
      // the reference's own corpus and protocol (BASELINE_REPRO.md):
      // L1 MAE 2.1230/1.9577 — the best encoder in the repo, beating
      // the published VAE (2.61/2.45), mean-pool (2.2006/2.0618), and
      // plain PCA (2.3256/2.2160). Same fit-per-(dataset, params)
      // artifact semantics and dynamic-oracle discipline as q204; the
      // whitened matrix has its own slot so both encoders coexist in
      // one JVM/dump.
      Q("q262_flagship_pca_whitened",
        (s, d) => q262Pipeline(s, d),
        oracle = None,
        oracleDyn = Some(() => WhitenedMatrices.oracle("q262")(encodedFlagshipSql))))
  }

  /** q262's registered pipeline — q204's flagship forecast with the
    * WHITENED learned projection (see the q262 registration comment).
    * The whitening variances come from the same single
    * moments scan of the bounded sample as the PCA fit, so the whole fit
    * stays constant-size on the driver while encoding stays one
    * matrix–vector kernel.
    */
  def q262Pipeline(s: SparkSession, d: String): DataFrame = {
    val m = flagshipEncoder(s, d, WhitenedMatrices,
      (z, c, n, k, f) => Encode.whitenedPcaMatrix(z, c, n, k, sampleFraction = f))
    Flagship.scoredQueries(s, d, metric = "l1", seqLen = FlagSeqLen,
      predWindow = FlagPred, stride = FlagStride, k = 2, embedDim = FlagDim,
      projection = Some(m))
      .select(col("q_key"), col("q_start"),
        pround(col("mae_err"), 6).as("mae_err"))
      .orderBy("q_key", "q_start")
  }

  // ------------------------------------------------------------------
  // Percentiles / sketches / dynamic column prune
  // ------------------------------------------------------------------

  private val statsExtra: Seq[Q] = Seq(
    Q("q64_percentiles",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
            percentile(col("l_quantity"), lit(0.5)).as("p50"),
            percentile(col("l_quantity"), lit(0.75)).as("p75"))
          .select(col("l_returnflag"), pround(col("p25"), 6).as("p25"),
            pround(col("p50"), 6).as("p50"), pround(col("p75"), 6).as("p75"))
          .orderBy("l_returnflag"),
      // Spark's exact `percentile` and DuckDB's quantile_cont share the
      // linear-interpolation definition.
      Some(s"""SELECT l_returnflag,
              |  ${sqlRound("quantile_cont(l_quantity, 0.25)", 6)} AS p25,
              |  ${sqlRound("quantile_cont(l_quantity, 0.50)", 6)} AS p50,
              |  ${sqlRound("quantile_cont(l_quantity, 0.75)", 6)} AS p75
              |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // HLL sketch values are implementation-specific, so the raw estimate
    // can't hash-match DuckDB. Instead the query emits the DETERMINISTIC
    // facts about the sketch: the exact distinct count and a boolean
    // asserting the HLL estimate landed within 3x its configured rsd
    // (5% -> 15% band). Spark's HLL++ is deterministic for fixed input,
    // so the boolean is stable; the oracle computes the exact count and
    // expects `true` — an HLL regression >15% off flips the flag and
    // fails the hash check, which is exactly the property worth gating.
    Q("q65_approx_distinct",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("exact_parts"),
            approx_count_distinct(col("l_partkey"), 0.05).as("approx_parts"))
          .select(
            col("l_returnflag"), col("exact_parts"),
            (abs(col("approx_parts") - col("exact_parts")) <=
              col("exact_parts") * 0.15).as("within_tol"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
             |  true AS within_tol
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q69_exact_distinct",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_linestatus")
          .agg(countDistinct(col("l_orderkey")).as("n_orders"),
            countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_linestatus"),
      Some("""SELECT l_linestatus, count(DISTINCT l_orderkey) AS n_orders,
             |  count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
             |  count(*) AS n_rows
             |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin)),

    Q("q67_cube",
      (s, d) =>
        Tables.lineitem(s, d)
          .cube("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), pround(avg("l_quantity"), 4).as("avg_qty"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("n"), col("avg_qty"))
          .orderBy("returnflag", "linestatus"),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
              |  coalesce(l_linestatus, 'ALL') AS linestatus,
              |  count(*) AS n, ${sqlRound("avg(l_quantity)", 4)} AS avg_qty
              |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
              |ORDER BY returnflag, linestatus""".stripMargin)),

    // Skew-safe join, oracle-checked: salting is output-invariant, so the
    // oracle is the plain join — only the physical shape differs (the big
    // side's hot keys spread over saltFactor tasks; ScaleSpec asserts the
    // salt explode in the plan).
    Q("q70_salted_skew_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val cust = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        Scale.saltedJoin(ev, cust, "user_id", saltFactor = 8)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_events"), pround(sum("value"), 4).as("sum_value"))
          .orderBy("c_mktsegment")
      },
      Some(s"""SELECT c_mktsegment, count(*) AS n_events,
              |  ${sqlRound("sum(value)", 4)} AS sum_value
              |FROM events JOIN customer ON user_id = c_custkey
              |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    Q("q66_null_prune",
      (s, d) => {
        import s.implicits._
        // P6 data-dependent column prune: value null 1/7 (kept: non-null
        // 6/7 > 0.85), props null 1/3 (dropped).
        val ev = Tables.events(s, d)
          .withColumn("value", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
          .withColumn("props", when(col("event_id") % 3 === 0, lit(null)).otherwise(col("props")))
        val pruned = TimeSeriesOps.pruneNullColumns(ev, threshold = 0.85,
          protect = Seq("event_id", "ts", "user_id", "event_type"))
        pruned.columns.sorted.toSeq.toDF("col_name").orderBy("col_name")
      },
      Some("""WITH fr AS (SELECT
             |    avg(CASE WHEN event_id % 7 <> 0 THEN 1.0 ELSE 0.0 END) AS f_value,
             |    avg(CASE WHEN event_id % 3 <> 0 THEN 1.0 ELSE 0.0 END) AS f_props
             |  FROM events)
             |SELECT col_name FROM (
             |  SELECT 'event_id' AS col_name UNION ALL SELECT 'ts'
             |  UNION ALL SELECT 'user_id' UNION ALL SELECT 'event_type'
             |  UNION ALL SELECT 'value' FROM fr WHERE f_value > 0.85
             |  UNION ALL SELECT 'props' FROM fr WHERE f_props > 0.85)
             |ORDER BY col_name""".stripMargin)))

  // ------------------------------------------------------------------
  // TA indicator pack (F14): Bollinger, MACD, RSI over the hourly series
  // ------------------------------------------------------------------

  private def ordCte: String =
    s"""${Queries.HourlyCloseCte},
       |ord AS (SELECT user_id, bucket_s, close,
       |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
       |  FROM agg)""".stripMargin

  /** Recursive-CTE EMA over `src(user_id, bucket_s, <valCol>, <rnCol>)`
    * with the same per-step operation order as the RunningEma window
    * function.
    */
  private[graft] def emaRec(name: String, src: String, valCol: String, rnCol: String,
      alphaSql: String): String =
    s"""$name AS (
       |  SELECT user_id, bucket_s, $valCol, $rnCol, $valCol AS e FROM $src WHERE $rnCol = 1
       |  UNION ALL
       |  SELECT o.user_id, o.bucket_s, o.$valCol, o.$rnCol,
       |    ($alphaSql) * o.$valCol + (1.0 - ($alphaSql)) * r.e
       |  FROM $src o JOIN $name r ON o.user_id = r.user_id AND o.$rnCol = r.$rnCol + 1)""".stripMargin

  private val ta: Seq[Q] = Seq(
    Q("q37_bollinger",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
        Features.withBollinger(hourly, "user_id", "bucket_s", "close", w = 20, k = 2.0)
          .filter(col("bb_mid").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("bb_mid"), 4).as("bb_mid"),
            pround(col("bb_up"), 4).as("bb_up"),
            pround(col("bb_dn"), 4).as("bb_dn"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH ${Queries.HourlyCloseCte}
              |SELECT user_id, bucket_s, ${sqlRound("m", 4)} AS bb_mid,
              |  ${sqlRound("m + 2.0 * sd", 4)} AS bb_up,
              |  ${sqlRound("m - 2.0 * sd", 4)} AS bb_dn
              |FROM (SELECT user_id, bucket_s,
              |    CASE WHEN count(close) OVER w = 20 THEN avg(close) OVER w END AS m,
              |    CASE WHEN count(close) OVER w = 20 THEN stddev_pop(close) OVER w END AS sd
              |  FROM agg
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
              |WHERE m IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q38_macd",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        Features.withMacd(hourly, "user_id", "bucket_s", "close")
          .filter(col("macd_hist").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("macd"), 6).as("macd"),
            pround(col("macd_signal"), 6).as("macd_signal"),
            pround(col("macd_hist"), 6).as("macd_hist"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH RECURSIVE $ordCte,
              |${emaRec("e12", "ord", "close", "rn", "2.0 / 13.0")},
              |${emaRec("e26", "ord", "close", "rn", "2.0 / 27.0")},
              |m AS (SELECT a.user_id, a.bucket_s, a.rn, a.e - b.e AS macd
              |  FROM e12 a JOIN e26 b ON a.user_id = b.user_id AND a.rn = b.rn
              |  WHERE a.rn >= 26),
              |mo AS MATERIALIZED (SELECT user_id, bucket_s, macd,
              |    row_number() OVER (PARTITION BY user_id ORDER BY rn) AS rn2
              |  FROM m),
              |${emaRec("sig", "mo", "macd", "rn2", "2.0 / 10.0")}
              |SELECT user_id, bucket_s, ${sqlRound("macd", 6)} AS macd,
              |  ${sqlRound("e", 6)} AS macd_signal,
              |  ${sqlRound("macd - e", 6)} AS macd_hist
              |FROM sig WHERE rn2 >= 9 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q39_rsi",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        Features.withRsi(hourly, "user_id", "bucket_s", "close", w = 14)
          .filter(col("rsi").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("rsi"), 6).as("rsi"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH RECURSIVE $ordCte,
              |d AS (SELECT user_id, bucket_s, rn,
              |    close - lag(close) OVER (PARTITION BY user_id ORDER BY rn) AS df
              |  FROM ord),
              |uo AS (SELECT user_id, bucket_s, rn - 1 AS rn2,
              |    greatest(df, 0.0) AS up, greatest(-df, 0.0) AS dn
              |  FROM d WHERE df IS NOT NULL),
              |urec AS (
              |  SELECT user_id, bucket_s, rn2, up, dn, up AS ue, dn AS de
              |  FROM uo WHERE rn2 = 1
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.rn2, o.up, o.dn,
              |    (1.0 / 14.0) * o.up + (1.0 - 1.0 / 14.0) * r.ue,
              |    (1.0 / 14.0) * o.dn + (1.0 - 1.0 / 14.0) * r.de
              |  FROM uo o JOIN urec r ON o.user_id = r.user_id AND o.rn2 = r.rn2 + 1)
              |SELECT user_id, bucket_s,
              |  ${sqlRound("CASE WHEN de = 0 THEN 100.0 ELSE 100.0 - 100.0 / (1.0 + ue / de) END", 6)} AS rsi
              |FROM urec WHERE rn2 >= 14 ORDER BY user_id, bucket_s""".stripMargin)),

    // Wilder recurrence oracle scaffolding shared by ATR/ADX: TR rows
    // (rn2 = per-user position in the TR series), per-user ordered value
    // lists for the SMA seed (list_sum is sequential, matching the
    // engine's accumulate-then-divide seed exactly).
    Q("q53_atr",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "high", "low", "close")
        Features.withAtr(hourly, "user_id", "bucket_s", w = 14)
          .filter(col("atr").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("atr"), 6).as("atr"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
              |ord AS (SELECT user_id, bucket_s, high, low, close,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM aggv),
              |trd AS (SELECT user_id, bucket_s, rn - 1 AS rn2,
              |    greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
              |  FROM (SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY rn) AS pc FROM ord)
              |  WHERE pc IS NOT NULL),
              |sl AS (SELECT user_id, list(tr ORDER BY rn2) AS trs FROM trd GROUP BY user_id),
              |wrec AS (
              |  SELECT t.user_id, t.bucket_s, t.rn2, list_sum(s.trs[1:14]) / 14.0 AS atr
              |  FROM trd t JOIN sl s ON t.user_id = s.user_id WHERE t.rn2 = 14
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.rn2, (r.atr * 13.0 + o.tr) / 14.0
              |  FROM trd o JOIN wrec r ON o.user_id = r.user_id AND o.rn2 = r.rn2 + 1)
              |SELECT user_id, bucket_s, ${sqlRound("atr", 6)} AS atr
              |FROM wrec ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q54_obv",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close", "volume")
        Features.withObv(hourly, "user_id", "bucket_s")
          // round 2: bucket volume is an aggregation-order-dependent sum,
          // so the cumulative OBV carries ~1e-10 absolute noise
          .select(col("user_id"), col("bucket_s"), pround(col("obv"), 2).as("obv"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH ${Queries.HourlyOhlcvCte}
              |SELECT user_id, bucket_s, ${sqlRound("obv", 2)} AS obv FROM (
              |  SELECT user_id, bucket_s,
              |    sum(CASE WHEN pc IS NOT NULL AND close < pc THEN -volume ELSE volume END)
              |      OVER (PARTITION BY user_id ORDER BY bucket_s
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obv
              |  FROM (SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY bucket_s) AS pc
              |    FROM aggv))
              |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q55_stochastic",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "high", "low", "close")
        Features.withStochastic(hourly, "user_id", "bucket_s", w = 14, smooth = 3)
          .filter(col("stoch_d").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("stoch_k"), 6).as("stoch_k"),
            pround(col("stoch_d"), 6).as("stoch_d"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |k AS (SELECT user_id, bucket_s,
              |    CASE WHEN count(close) OVER w = 14 AND max(high) OVER w > min(low) OVER w
              |      THEN (close - min(low) OVER w) / (max(high) OVER w - min(low) OVER w) * 100.0
              |    END AS stoch_k
              |  FROM aggv
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
              |d AS (SELECT user_id, bucket_s, stoch_k,
              |    CASE WHEN count(stoch_k) OVER w3 = 3 THEN avg(stoch_k) OVER w3 END AS stoch_d
              |  FROM k
              |  WINDOW w3 AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s, ${sqlRound("stoch_k", 6)} AS stoch_k,
              |  ${sqlRound("stoch_d", 6)} AS stoch_d
              |FROM d WHERE stoch_d IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q56_adx",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "high", "low", "close")
        Features.withAdx(hourly, "user_id", "bucket_s", w = 14)
          .filter(col("adx").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("di_plus"), 6).as("di_plus"),
            pround(col("di_minus"), 6).as("di_minus"),
            pround(col("adx"), 6).as("adx"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
              |ord AS (SELECT user_id, bucket_s, high, low, close,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM aggv),
              |lagged AS (SELECT *, lag(close) OVER pw AS pc, lag(high) OVER pw AS ph,
              |    lag(low) OVER pw AS pl
              |  FROM ord WINDOW pw AS (PARTITION BY user_id ORDER BY rn)),
              |b AS (SELECT user_id, bucket_s, rn - 1 AS rn2,
              |    greatest(high - low, abs(high - pc), abs(low - pc)) AS tr,
              |    CASE WHEN (high - ph) > (pl - low) AND (high - ph) > 0
              |      THEN high - ph ELSE 0.0 END AS dmp,
              |    CASE WHEN (pl - low) > (high - ph) AND (pl - low) > 0
              |      THEN pl - low ELSE 0.0 END AS dmm
              |  FROM lagged WHERE pc IS NOT NULL),
              |sl AS (SELECT user_id, list(tr ORDER BY rn2) AS trs,
              |    list(dmp ORDER BY rn2) AS dmps, list(dmm ORDER BY rn2) AS dmms
              |  FROM b GROUP BY user_id),
              |wrec AS (
              |  SELECT t.user_id, t.bucket_s, t.rn2,
              |    list_sum(s.trs[1:14]) / 14.0 AS satr,
              |    list_sum(s.dmps[1:14]) / 14.0 AS sdmp,
              |    list_sum(s.dmms[1:14]) / 14.0 AS sdmm
              |  FROM b t JOIN sl s ON t.user_id = s.user_id WHERE t.rn2 = 14
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.rn2,
              |    (r.satr * 13.0 + o.tr) / 14.0,
              |    (r.sdmp * 13.0 + o.dmp) / 14.0,
              |    (r.sdmm * 13.0 + o.dmm) / 14.0
              |  FROM b o JOIN wrec r ON o.user_id = r.user_id AND o.rn2 = r.rn2 + 1),
              |di AS (SELECT user_id, bucket_s, rn2,
              |    CASE WHEN satr > 0 THEN 100.0 * sdmp / satr END AS dip,
              |    CASE WHEN satr > 0 THEN 100.0 * sdmm / satr END AS dim
              |  FROM wrec),
              |dx AS (SELECT user_id, bucket_s, rn2, dip, dim,
              |    CASE WHEN dip + dim > 0 THEN 100.0 * abs(dip - dim) / (dip + dim) END AS dxv
              |  FROM di),
              |dxn AS MATERIALIZED (SELECT user_id, bucket_s, dip, dim, dxv,
              |    row_number() OVER (PARTITION BY user_id ORDER BY rn2) AS rn3
              |  FROM dx WHERE dxv IS NOT NULL),
              |dsl AS MATERIALIZED (SELECT user_id, list(dxv ORDER BY rn3) AS dxs FROM dxn GROUP BY user_id),
              |arec AS (
              |  SELECT t.user_id, t.bucket_s, t.rn3, t.dip, t.dim,
              |    list_sum(s.dxs[1:14]) / 14.0 AS adx
              |  FROM dxn t JOIN dsl s ON t.user_id = s.user_id WHERE t.rn3 = 14
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.rn3, o.dip, o.dim,
              |    (r.adx * 13.0 + o.dxv) / 14.0
              |  FROM dxn o JOIN arec r ON o.user_id = r.user_id AND o.rn3 = r.rn3 + 1)
              |SELECT user_id, bucket_s, ${sqlRound("dip", 6)} AS di_plus,
              |  ${sqlRound("dim", 6)} AS di_minus, ${sqlRound("adx", 6)} AS adx
              |FROM arec ORDER BY user_id, bucket_s""".stripMargin)))

  // ------------------------------------------------------------------
  // TA indicator pack, second batch (F14): Williams %R, ROC, CCI,
  // Donchian, Keltner, CMF, force index, TRIX — the highest-traffic
  // indicators `add_all_ta_features` appends after the first batch.
  // ------------------------------------------------------------------

  private def hourlyBars(s: SparkSession, d: String) =
    Queries.hourlyResampled(s, d, emitEmpty = false)
      .select("user_id", "bucket_s", "high", "low", "close", "volume")

  private val ta2: Seq[Q] = Seq(
    Q("q48_williams_r",
      (s, d) =>
        Features.withWilliamsR(hourlyBars(s, d), "user_id", "bucket_s", w = 14)
          .filter(col("williams_r").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("williams_r"), 6).as("williams_r"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte}
              |SELECT user_id, bucket_s, ${sqlRound("wr", 6)} AS williams_r FROM (
              |  SELECT user_id, bucket_s,
              |    CASE WHEN count(close) OVER w = 14 AND max(high) OVER w > min(low) OVER w
              |      THEN -100.0 * (max(high) OVER w - close) / (max(high) OVER w - min(low) OVER w)
              |    END AS wr
              |  FROM aggv
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
              |WHERE wr IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q57_roc",
      (s, d) =>
        Features.withRoc(
          Queries.hourlyResampled(s, d, emitEmpty = false)
            .select("user_id", "bucket_s", "close"),
          "user_id", "bucket_s", "close", n = 12)
          .filter(col("roc").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("roc"), 6).as("roc"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyCloseCte}
              |SELECT user_id, bucket_s, ${sqlRound("roc", 6)} AS roc FROM (
              |  SELECT user_id, bucket_s,
              |    CASE WHEN pc IS NOT NULL AND pc <> 0 THEN 100.0 * (close - pc) / pc END AS roc
              |  FROM (SELECT *, lag(close, 12) OVER (PARTITION BY user_id ORDER BY bucket_s) AS pc
              |    FROM agg))
              |WHERE roc IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q58_cci",
      (s, d) =>
        Features.withCci(hourlyBars(s, d), "user_id", "bucket_s", w = 20)
          .filter(col("cci").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("cci"), 6).as("cci"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |t AS (SELECT user_id, bucket_s, (high + low + close) / 3.0 AS tp FROM aggv),
              |l AS (SELECT user_id, bucket_s, tp,
              |    list(tp) OVER (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS tps
              |  FROM t),
              |m AS (SELECT *, list_sum(tps) / 20 AS m FROM l),
              |d AS (SELECT *, list_sum([abs(x - m) FOR x IN tps]) / 20 AS mad FROM m)
              |SELECT user_id, bucket_s, ${sqlRound("(tp - m) / (0.015 * mad)", 6)} AS cci
              |FROM d WHERE len(tps) = 20 AND mad > 0
              |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q59_donchian",
      (s, d) =>
        Features.withDonchian(hourlyBars(s, d), "user_id", "bucket_s", w = 20)
          .filter(col("dc_mid").isNotNull)
          .select(col("user_id"), col("bucket_s"), col("dc_up"), col("dc_dn"),
            pround(col("dc_mid"), 6).as("dc_mid"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte}
              |SELECT user_id, bucket_s, dc_up, dc_dn,
              |  ${sqlRound("(dc_up + dc_dn) / 2.0", 6)} AS dc_mid FROM (
              |  SELECT user_id, bucket_s,
              |    CASE WHEN count(high) OVER w = 20 THEN max(high) OVER w END AS dc_up,
              |    CASE WHEN count(high) OVER w = 20 THEN min(low) OVER w END AS dc_dn
              |  FROM aggv
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
              |WHERE dc_up IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q71_keltner",
      (s, d) =>
        Features.withKeltner(hourlyBars(s, d), "user_id", "bucket_s",
          w = 20, atrW = 10, k = 2.0)
          .filter(col("kc_mid").isNotNull && col("kc_up").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("kc_mid"), 6).as("kc_mid"),
            pround(col("kc_up"), 6).as("kc_up"),
            pround(col("kc_dn"), 6).as("kc_dn"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
              |ord AS (SELECT user_id, bucket_s, high, low, close,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM aggv),
              |${emaRec("erec", "ord", "close", "rn", "2.0 / 21.0")},
              |trd AS (SELECT user_id, bucket_s, rn - 1 AS rn2,
              |    greatest(high - low, abs(high - pc), abs(low - pc)) AS tr
              |  FROM (SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY rn) AS pc FROM ord)
              |  WHERE pc IS NOT NULL),
              |sl AS (SELECT user_id, list(tr ORDER BY rn2) AS trs FROM trd GROUP BY user_id),
              |arec AS (
              |  SELECT t.user_id, t.bucket_s, t.rn2, list_sum(s.trs[1:10]) / 10.0 AS atr
              |  FROM trd t JOIN sl s ON t.user_id = s.user_id WHERE t.rn2 = 10
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.rn2, (r.atr * 9.0 + o.tr) / 10.0
              |  FROM trd o JOIN arec r ON o.user_id = r.user_id AND o.rn2 = r.rn2 + 1)
              |SELECT e.user_id, e.bucket_s, ${sqlRound("e.e", 6)} AS kc_mid,
              |  ${sqlRound("e.e + 2.0 * a.atr", 6)} AS kc_up,
              |  ${sqlRound("e.e - 2.0 * a.atr", 6)} AS kc_dn
              |FROM erec e JOIN arec a ON e.user_id = a.user_id AND e.bucket_s = a.bucket_s
              |WHERE e.rn >= 20 ORDER BY e.user_id, e.bucket_s""".stripMargin)),

    Q("q72_cmf",
      (s, d) =>
        Features.withCmf(hourlyBars(s, d), "user_id", "bucket_s", w = 20)
          .filter(col("cmf").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("cmf"), 6).as("cmf"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |b AS (SELECT user_id, bucket_s,
              |    (CASE WHEN high > low
              |      THEN ((close - low) - (high - close)) / (high - low)
              |      ELSE 0.0 END) * volume AS mfv,
              |    volume
              |  FROM aggv),
              |l AS (SELECT user_id, bucket_s,
              |    list(mfv) OVER w AS mfvs, list(volume) OVER w AS vols
              |  FROM b
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s,
              |  ${sqlRound("list_sum(mfvs) / list_sum(vols)", 6)} AS cmf
              |FROM l WHERE len(mfvs) = 20 AND list_sum(vols) <> 0
              |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q73_force_index",
      (s, d) =>
        Features.withForceIndex(hourlyBars(s, d), "user_id", "bucket_s", span = 13)
          .filter(col("force_index").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("force_index"), 6).as("force_index"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
              |ord AS (SELECT user_id, bucket_s, close, volume,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM aggv),
              |f AS (SELECT user_id, bucket_s, rn - 1 AS rn2, (close - pc) * volume AS fr
              |  FROM (SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY rn) AS pc FROM ord)
              |  WHERE pc IS NOT NULL),
              |${emaRec("rec", "f", "fr", "rn2", "2.0 / 14.0")}
              |SELECT user_id, bucket_s, ${sqlRound("e", 6)} AS force_index
              |FROM rec WHERE rn2 >= 13 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q74_trix",
      (s, d) =>
        Features.withTrix(
          Queries.hourlyResampled(s, d, emitEmpty = false)
            .select("user_id", "bucket_s", "close"),
          "user_id", "bucket_s", "close", span = 15)
          .filter(col("trix").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("trix"), 6).as("trix"))
          .orderBy("user_id", "bucket_s"),
      // ONE recursion carries all three EMA states (chained recursive
      // CTEs re-evaluate their upstream recursion per iteration in
      // DuckDB — cubically slow). e2 seeds when e1 is first EMITTED
      // (rn=15, its min_periods), e3 when e2 is (rn=29); e1_t/e2_t are
      // inlined expressions, so each stage consumes the identical double
      // the engine's column-chained withEma calls produce.
      Some {
        val a = "2.0 / 16.0"
        val e1t = s"($a) * o.close + (1.0 - ($a)) * r.e1"
        val e2t = s"CASE WHEN o.rn = 15 THEN $e1t ELSE ($a) * ($e1t) + (1.0 - ($a)) * r.e2 END"
        s"""WITH RECURSIVE ${Queries.HourlyCloseCte},
           |ord AS (SELECT user_id, bucket_s, close,
           |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
           |  FROM agg),
           |rec AS (
           |  SELECT user_id, bucket_s, close, rn, close AS e1,
           |    CAST(NULL AS DOUBLE) AS e2, CAST(NULL AS DOUBLE) AS e3
           |  FROM ord WHERE rn = 1
           |  UNION ALL
           |  SELECT o.user_id, o.bucket_s, o.close, o.rn,
           |    $e1t,
           |    CASE WHEN o.rn < 15 THEN NULL ELSE $e2t END,
           |    CASE WHEN o.rn < 29 THEN NULL
           |         WHEN o.rn = 29 THEN $e2t
           |         ELSE ($a) * ($e2t) + (1.0 - ($a)) * r.e3 END
           |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1),
           |tl AS (SELECT user_id, bucket_s, e3,
           |    lag(e3) OVER (PARTITION BY user_id ORDER BY rn) AS pe
           |  FROM rec WHERE rn >= 43)
           |SELECT user_id, bucket_s,
           |  ${sqlRound("100.0 * (e3 - pe) / pe", 6)} AS trix
           |FROM tl WHERE pe IS NOT NULL AND pe <> 0
           |ORDER BY user_id, bucket_s""".stripMargin
      }))

  // ------------------------------------------------------------------
  // TA indicator pack, third batch (F14): MFI, EOM, DPO, PPO, ultimate
  // oscillator, vortex.
  // ------------------------------------------------------------------

  private val ta3: Seq[Q] = Seq(
    Q("q77_mfi",
      (s, d) =>
        Features.withMfi(hourlyBars(s, d), "user_id", "bucket_s", w = 14)
          .filter(col("mfi").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("mfi"), 6).as("mfi"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |t AS (SELECT user_id, bucket_s, (high + low + close) / 3.0 AS tp, volume FROM aggv),
              |d AS (SELECT *, lag(tp) OVER (PARTITION BY user_id ORDER BY bucket_s) AS ptp FROM t),
              |b AS (SELECT user_id, bucket_s,
              |    CASE WHEN tp > ptp THEN tp * volume ELSE 0.0 END AS pos,
              |    CASE WHEN tp < ptp THEN tp * volume ELSE 0.0 END AS neg
              |  FROM d WHERE ptp IS NOT NULL),
              |l AS (SELECT user_id, bucket_s, list(pos) OVER w AS ps, list(neg) OVER w AS ns
              |  FROM b
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s,
              |  ${sqlRound("100.0 * list_sum(ps) / (list_sum(ps) + list_sum(ns))", 6)} AS mfi
              |FROM l WHERE len(ps) = 14 AND list_sum(ps) + list_sum(ns) > 0
              |ORDER BY user_id, bucket_s""".stripMargin)),

    // Daily bars: hourly buckets are mostly single-event (high == low), so
    // the box ratio would be undefined everywhere and the query vacuous.
    Q("q78_eom",
      (s, d) =>
        Features.withEom(
          Queries.barsResampled(s, d, 86400, emitEmpty = false)
            .select("user_id", "bucket_s", "high", "low", "close", "volume"),
          "user_id", "bucket_s", w = 5)
          .filter(col("eom").isNotNull)
          // box-ratio division gives ~1e8-magnitude values; window-avg
          // summation order differs across engines at ~1e-8 absolute, so
          // compare at 2 decimals
          .select(col("user_id"), col("bucket_s"), pround(col("eom"), 2).as("eom"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.ohlcvCte(86400)},
              |r AS (SELECT user_id, bucket_s,
              |    CASE WHEN ph IS NOT NULL AND high > low
              |      THEN ((high + low) / 2.0 - (ph + pl) / 2.0)
              |        / ((volume / 1.0e8) / (high - low)) END AS raw
              |  FROM (SELECT *, lag(high) OVER pw AS ph, lag(low) OVER pw AS pl
              |    FROM aggv WINDOW pw AS (PARTITION BY user_id ORDER BY bucket_s)))
              |SELECT user_id, bucket_s, ${sqlRound("eom", 2)} AS eom FROM (
              |  SELECT user_id, bucket_s,
              |    CASE WHEN count(raw) OVER w = 5 THEN avg(raw) OVER w END AS eom
              |  FROM r
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
              |WHERE eom IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q79_dpo",
      (s, d) =>
        Features.withDpo(hourlyBars(s, d), "user_id", "bucket_s", w = 20)
          .filter(col("dpo").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("dpo"), 6).as("dpo"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte}
              |SELECT user_id, bucket_s, ${sqlRound("dpo", 6)} AS dpo FROM (
              |  SELECT user_id, bucket_s,
              |    CASE WHEN sh IS NOT NULL AND count(close) OVER w = 20
              |      THEN sh - avg(close) OVER w END AS dpo
              |  FROM (SELECT *, lag(close, 11) OVER (PARTITION BY user_id ORDER BY bucket_s) AS sh
              |    FROM aggv)
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
              |WHERE dpo IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q80_ppo",
      (s, d) =>
        Features.withPpo(
          Queries.hourlyResampled(s, d, emitEmpty = false)
            .select("user_id", "bucket_s", "close"),
          "user_id", "bucket_s", "close")
          .filter(col("ppo_hist").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("ppo"), 6).as("ppo"),
            pround(col("ppo_signal"), 6).as("ppo_signal"),
            pround(col("ppo_hist"), 6).as("ppo_hist"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH RECURSIVE $ordCte,
              |${emaRec("e12", "ord", "close", "rn", "2.0 / 13.0")},
              |${emaRec("e26", "ord", "close", "rn", "2.0 / 27.0")},
              |m AS (SELECT a.user_id, a.bucket_s, a.rn,
              |    CASE WHEN b.e <> 0 THEN 100.0 * (a.e - b.e) / b.e END AS ppo
              |  FROM e12 a JOIN e26 b ON a.user_id = b.user_id AND a.rn = b.rn
              |  WHERE a.rn >= 26),
              |mo AS MATERIALIZED (SELECT user_id, bucket_s, ppo,
              |    row_number() OVER (PARTITION BY user_id ORDER BY rn) AS rn2
              |  FROM m WHERE ppo IS NOT NULL),
              |${emaRec("sig", "mo", "ppo", "rn2", "2.0 / 10.0")}
              |SELECT user_id, bucket_s, ${sqlRound("ppo", 6)} AS ppo,
              |  ${sqlRound("e", 6)} AS ppo_signal,
              |  ${sqlRound("ppo - e", 6)} AS ppo_hist
              |FROM sig WHERE rn2 >= 9 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q81_ultimate",
      (s, d) =>
        Features.withUltimate(hourlyBars(s, d), "user_id", "bucket_s")
          .filter(col("ultimate").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("ultimate"), 6).as("ultimate"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |b AS (SELECT user_id, bucket_s,
              |    close - least(low, pc) AS bp,
              |    greatest(high, pc) - least(low, pc) AS utr
              |  FROM (SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY bucket_s) AS pc
              |    FROM aggv)
              |  WHERE pc IS NOT NULL),
              |l AS (SELECT user_id, bucket_s,
              |    list(bp) OVER w7 AS b7, list(utr) OVER w7 AS t7,
              |    list(bp) OVER w14 AS b14, list(utr) OVER w14 AS t14,
              |    list(bp) OVER w28 AS b28, list(utr) OVER w28 AS t28
              |  FROM b
              |  WINDOW w7 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
              |    w14 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
              |    w28 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s,
              |  ${sqlRound("100.0 * (4.0 * (list_sum(b7) / list_sum(t7)) + 2.0 * (list_sum(b14) / list_sum(t14)) + (list_sum(b28) / list_sum(t28))) / 7.0", 6)} AS ultimate
              |FROM l
              |WHERE len(b28) = 28 AND list_sum(t7) > 0 AND list_sum(t14) > 0 AND list_sum(t28) > 0
              |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q82_vortex",
      (s, d) =>
        Features.withVortex(hourlyBars(s, d), "user_id", "bucket_s", w = 14)
          .filter(col("vi_plus").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("vi_plus"), 6).as("vi_plus"),
            pround(col("vi_minus"), 6).as("vi_minus"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |b AS (SELECT user_id, bucket_s,
              |    abs(high - pl) AS vmp, abs(low - ph) AS vmm,
              |    greatest(high - low, abs(high - pc), abs(low - pc)) AS vtr
              |  FROM (SELECT *, lag(high) OVER pw AS ph, lag(low) OVER pw AS pl,
              |      lag(close) OVER pw AS pc
              |    FROM aggv WINDOW pw AS (PARTITION BY user_id ORDER BY bucket_s))
              |  WHERE pc IS NOT NULL),
              |l AS (SELECT user_id, bucket_s,
              |    list(vmp) OVER w AS vps, list(vmm) OVER w AS vms, list(vtr) OVER w AS trs
              |  FROM b
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s,
              |  ${sqlRound("list_sum(vps) / list_sum(trs)", 6)} AS vi_plus,
              |  ${sqlRound("list_sum(vms) / list_sum(trs)", 6)} AS vi_minus
              |FROM l WHERE len(trs) = 14 AND list_sum(trs) > 0
              |ORDER BY user_id, bucket_s""".stripMargin)))

  private val ta4: Seq[Q] = {
    val KamaC1 = 2.0 / 3.0 - 2.0 / 31.0
    val KamaC2 = 2.0 / 31.0
    Seq(
      Q("q83_kama",
        (s, d) =>
          Features.withKama(
            Queries.hourlyResampled(s, d, emitEmpty = false)
              .select("user_id", "bucket_s", "close"),
            "user_id", "bucket_s", "close")
            .filter(col("kama").isNotNull)
            .select(col("user_id"), col("bucket_s"), pround(col("kama"), 6).as("kama"))
            .orderBy("user_id", "bucket_s"),
        // Data-dependent alpha: er/sc are precomputed per row (sequential
        // list sums), then ONE recursion carries the adaptive state; null
        // sc (flat stretch) carries the state forward on both sides.
        Some(s"""WITH RECURSIVE ${Queries.HourlyCloseCte},
                |ord AS (SELECT user_id, bucket_s, close,
                |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
                |  FROM agg),
                |dd AS (SELECT *, abs(close - lag(close, 1) OVER pw) AS da,
                |    lag(close, 10) OVER pw AS pcw
                |  FROM ord WINDOW pw AS (PARTITION BY user_id ORDER BY rn)),
                |b0 AS (SELECT user_id, bucket_s, close, pcw, rn - 1 AS rn2,
                |    list(da) OVER (PARTITION BY user_id ORDER BY rn
                |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS das
                |  FROM dd WHERE da IS NOT NULL),
                |b AS (SELECT user_id, bucket_s, close, rn2,
                |    (CASE WHEN pcw IS NOT NULL AND len(das) = 10 AND list_sum(das) > 0
                |       THEN abs(close - pcw) / list_sum(das) END * ${dlit(KamaC1)} + ${dlit(KamaC2)})
                |    * (CASE WHEN pcw IS NOT NULL AND len(das) = 10 AND list_sum(das) > 0
                |       THEN abs(close - pcw) / list_sum(das) END * ${dlit(KamaC1)} + ${dlit(KamaC2)}) AS sc
                |  FROM b0),
                |srn AS (SELECT user_id, min(rn2) AS s0 FROM b WHERE sc IS NOT NULL GROUP BY user_id),
                |rec AS (
                |  SELECT b.user_id, b.bucket_s, b.rn2, b.close AS kama
                |  FROM b JOIN srn ON b.user_id = srn.user_id AND b.rn2 = srn.s0
                |  UNION ALL
                |  SELECT o.user_id, o.bucket_s, o.rn2,
                |    CASE WHEN o.sc IS NULL THEN r.kama
                |         ELSE r.kama + o.sc * (o.close - r.kama) END
                |  FROM b o JOIN rec r ON o.user_id = r.user_id AND o.rn2 = r.rn2 + 1)
                |SELECT user_id, bucket_s, ${sqlRound("kama", 6)} AS kama
                |FROM rec ORDER BY user_id, bucket_s""".stripMargin)),

      Q("q84_chaikin_osc",
        (s, d) =>
          Features.withChaikinOsc(hourlyBars(s, d), "user_id", "bucket_s")
            .filter(col("chaikin_osc").isNotNull)
            .select(col("user_id"), col("bucket_s"),
              pround(col("chaikin_osc"), 4).as("chaikin_osc"))
            .orderBy("user_id", "bucket_s"),
        // ONE recursion carries both EMA states over the running ADL.
        Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
                |a AS (SELECT user_id, bucket_s,
                |    sum((CASE WHEN high > low
                |        THEN ((close - low) - (high - close)) / (high - low)
                |        ELSE 0.0 END) * volume)
                |      OVER (PARTITION BY user_id ORDER BY bucket_s
                |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adl,
                |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
                |  FROM aggv),
                |rec AS (
                |  SELECT user_id, bucket_s, adl, rn, adl AS ef, adl AS es FROM a WHERE rn = 1
                |  UNION ALL
                |  SELECT o.user_id, o.bucket_s, o.adl, o.rn,
                |    (2.0 / 4.0) * o.adl + (1.0 - 2.0 / 4.0) * r.ef,
                |    (2.0 / 11.0) * o.adl + (1.0 - 2.0 / 11.0) * r.es
                |  FROM a o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
                |SELECT user_id, bucket_s, ${sqlRound("ef - es", 4)} AS chaikin_osc
                |FROM rec WHERE rn >= 10 ORDER BY user_id, bucket_s""".stripMargin)))
  }

  def all: Seq[Q] = positional ++ savgol ++ ann ++ audio ++ flagship ++ ta ++ ta2 ++ ta3 ++ ta4 ++ statsExtra
}
