package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.ohlcv.Search
import graft.text.{Dedup, Packing, TextOps}
import graft.Queries.Q
import graft.Rounding.{pround, sqlRound}

/** Similarity-search, dedup, text-analysis and multimodal queries
  * (the LLM-data-pipeline operator set) with DuckDB oracles.
  *
  * Oracle-parity backbone: the portable 60-bit hash
  * `('0x' || substr(md5(x), 1, 15))::BIGINT` ≡ Spark
  * `conv(substr(md5(x), 1, 15), 16, 10)::long`, and explicit
  * dot-product formulas written with identical operation order on both
  * sides so doubles match bit-for-bit before rounding.
  */
object VectorTextQueries {

  /** DuckDB rendering of TextOps.md5Hash60. */
  private[graft] def sqlHash60(expr: String): String =
    s"(('0x' || substr(md5($expr), 1, 15))::BIGINT)"

  /** DuckDB rendering of TextOps.tokens (whitespace split, empties out). */
  private[graft] val sqlToks = """list_filter(string_split_regex(text, '\s+'), t -> len(t) > 0)"""

  /** DuckDB word-n-gram shingles over the token list column `toks`
    * (1-based inclusive slices). */
  private[graft] def sqlShingles(n: Int, toks: String = "toks"): String =
    s"[array_to_string($toks[i:i+${n - 1}], ' ') FOR i IN range(1, len($toks) - ${n - 2})]"

  /** DuckDB mirror of Search.cosine (incl. the 1e-8 norm guards and the
    * sequential-sum dot products).
    */
  private[graft] def sqlCosine(a: String, b: String): String =
    s"(list_dot_product($a, $b) / (greatest(sqrt(list_dot_product($a, $a)), 1e-8) * greatest(sqrt(list_dot_product($b, $b)), 1e-8)))"

  /** `Double.toString` round-trips the exact IEEE value; lowercase the E
    * so DuckDB parses a double literal.
    */
  private[graft] def dlit(x: Double): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) s.toLowerCase else s
  }

  private[graft] def arrLit(a: Array[Double]): String =
    a.map(dlit).mkString("[", ", ", "]")

  /** DuckDB mirror of Lsh.hyperplaneSignature over plane literals. */
  private[graft] def sigSql(v: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, ${arrLit(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // ------------------------------------------------------------------
  // Similarity search over `embeddings`
  // ------------------------------------------------------------------

  private val NearDupPlanes = 4
  private val NearDupSeed = 42L
  private val NearDupMat: Array[Array[Double]] =
    graft.ohlcv.Encode.randomProjectionMatrix(64, NearDupPlanes, NearDupSeed)

  private def knnQuery(metricName: String, oracleDist: String): (SparkSession, String) => DataFrame =
    (s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("query_vec"))
      val corpus = emb.filter(col("vec_id") >= 5)
      Search.knnJoin(corpus, queries, "vec_id", "embedding", "query_id", "query_vec",
        k = 5, metricName = metricName)
        .select(col("query_id"), col("rank"), col("vec_id"), pround(col("dist"), 6).as("dist"))
        .orderBy("query_id", "rank")
    }

  private val vector: Seq[Q] = Seq(
    Q("q30_knn_cosine",
      knnQuery("cosine_dist", ""),
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
              |  FROM embeddings WHERE vec_id < 5),
              |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
              |scored AS (SELECT query_id, vec_id,
              |    1.0 - ${sqlCosine("v", "qv")} AS dist FROM c, q),
              |ranked AS (SELECT query_id, vec_id, dist,
              |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
              |  FROM scored)
              |SELECT query_id, rank, vec_id, ${sqlRound("dist", 6)} AS dist
              |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("q31_knn_l2",
      knnQuery("l2", ""),
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
             |  FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 5),
             |scored AS (SELECT query_id, vec_id, list_distance(v, qv) AS dist FROM c, q),
             |ranked AS (SELECT query_id, vec_id, dist,
             |    row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
             |  FROM scored)
             |SELECT query_id, rank, vec_id, ${sqlRound("dist", 6)} AS dist
             |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // The 100 TB near-dup path: hyperplane-LSH bucketing (4 planes → 16
    // buckets), then exact cosine only on same-bucket pairs — a bucket
    // equi-join with zero driver-side collection. The blocked broadcast
    // kernel (Knn.cosinePairs) remains as the per-bucket re-rank for
    // broadcastable sides; the planes are plan literals so the oracle
    // evaluates the identical signature.
    Q("q32_cos_neardup",
      (s, d) =>
        Dedup.embeddingNearDup(Tables.embeddings(s, d), "vec_id", "embedding",
          threshold = 0.25, planes = NearDupPlanes, dim = 64, seed = NearDupSeed)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              |sg AS (SELECT vec_id, v, ${sigSql("v", NearDupMat)} AS sig FROM e)
              |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              |  ${sqlRound(sqlCosine("a.v", "b.v"), 6)} AS cos_sim
              |FROM sg a JOIN sg b ON a.sig = b.sig AND a.vec_id < b.vec_id
              |WHERE ${sqlCosine("a.v", "b.v")} >= 0.25
              |ORDER BY id_a, id_b""".stripMargin)),

    Q("q33_label_centroid",
      (s, d) =>
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding").cast("array<double>")))
          .withColumn("pos", col("pos") + 1)
          .groupBy("label", "pos")
          .agg(pround(avg("col"), 6).as("centroid_val"))
          .orderBy("label", "pos"),
      Some(s"""SELECT label, pos, ${sqlRound("avg(embedding[pos]::DOUBLE)", 6)} AS centroid_val
             |FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS pos)
             |GROUP BY label, pos ORDER BY label, pos""".stripMargin)))

  // ------------------------------------------------------------------
  // Text analysis + deduplication over `documents`
  // ------------------------------------------------------------------

  private val MinhashSeeds = 4

  /** Generated SQL for the 32 unrolled simhash bit terms. */
  private[graft] def simhashSql(bits: Int): String = {
    val bitTerms = (0 until bits).map { b =>
      s"(CASE WHEN sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id, unnest(${sqlShingles(3)}) AS s FROM toks WHERE len(toks) >= 3),
       |hashed AS (SELECT doc_id, ${sqlHash60("s")} AS h FROM sh)
       |SELECT doc_id, $bitTerms AS simhash
       |FROM hashed GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private val text: Seq[Q] = Seq(
    Q("q40_exact_dedup",
      (s, d) =>
        Tables.documents(s, d)
          .groupBy(TextOps.fingerprint(col("text")).as("fp"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
          .orderBy("fp"),
      Some("""SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
             |  min(doc_id) AS keep_id, count(*) AS n_dups
             |FROM documents GROUP BY fp ORDER BY fp""".stripMargin)),

    Q("q41_minhash_sig",
      (s, d) => {
        // Aggregation shape: explode shingles once, hash per seed with
        // codegen'd md5, then min aggregates — no interpreted HOF pass.
        val hashed = Tables.documents(s, d)
          .select(col("doc_id"),
            explode(TextOps.wordShingles(col("text"), 3)).as("__s"))
        val aggs = (0 until MinhashSeeds).map { seed =>
          min(TextOps.md5Hash60(concat(lit(s"$seed:"), col("__s")))).as(s"h$seed")
        }
        hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*).orderBy("doc_id")
      },
      Some {
        val hs = (0 until MinhashSeeds).map { seed =>
          s"list_min([${sqlHash60(s"'$seed:' || s")} FOR s IN shingles]) AS h$seed"
        }.mkString(",\n  ")
        s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
           |sh AS (SELECT doc_id, ${sqlShingles(3)} AS shingles FROM toks WHERE len(toks) >= 3)
           |SELECT doc_id,
           |  $hs
           |FROM sh ORDER BY doc_id""".stripMargin
      }),

    Q("q42_ngram_jaccard",
      (s, d) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, threshold = 0.5)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
              |sh AS (SELECT DISTINCT doc_id, ${sqlHash60("s0")} AS s FROM (
              |  SELECT doc_id, unnest(list_distinct(${sqlShingles(3)})) AS s0
              |  FROM toks WHERE len(toks) >= 3)),
              |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY a.doc_id, b.doc_id)
              |SELECT id_a, id_b,
              |  ${sqlRound("n_inter::DOUBLE / (x.n + y.n - n_inter)", 6)} AS jaccard
              |FROM inter JOIN sz x ON id_a = x.doc_id JOIN sz y ON id_b = y.doc_id
              |WHERE n_inter::DOUBLE / (x.n + y.n - n_inter) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin),
      // PPJoin's 100× wall (52.80, SCALING.md) is measured LINEAR in its
      // candidate-verify mass (SCALING.md round 11: candidates 117.5× for 100×
      // data — output-sensitive, not an algorithmic bend), but the mass
      // itself tracks prefix-collision geometry with no cap. The
      // registered scale path reaches the same J ≥ 0.5 verified pairs
      // from the minhash band proposer (bounded candidate mass, shared
      // verbatim with the q239/q240 accounting tier).
      scaleLimited = Some("q259_jaccard_pairs_banded")),

    Q("q43_simhash",
      (s, d) =>
        Dedup.simhashAgg(Tables.documents(s, d), "doc_id",
          TextOps.wordShingles(col("text"), 3), 32)
          .orderBy("doc_id"),
      Some(simhashSql(32))),

    Q("q49_simhash_neardup",
      (s, d) => {
        // Both sides of the self-join reference the fingerprint frame —
        // persist it so the shingle+hash subtree runs once. 60-bit
        // fingerprints (the full md5Hash60 width), 7 pigeonhole bands of
        // 8–9 bits. SCALE CAVEAT (measured, round-11 100× sweep,
        // SCALING.md): the exact band self-join is structurally N² — at
        // a fixed RELATIVE hamming bar the bucket space is a CONSTANT
        // 7 × 2^8.5, so candidate mass Σ|bucket|² grows N²/2^8.5 with no
        // knob (q49 measured ×11.2 wall for ×3.33 data at 30×→100×).
        // The registered 100 TB path is q256_simhash_banded: minhash
        // band candidates (measured linear) → exact hamming verify of
        // candidates only — see `scaleLimited` below.
        val fps = Cached.persist(Dedup.simhashAgg(Tables.documents(s, d), "doc_id",
          TextOps.wordShingles(col("text"), 3), 60))
        fps.count()
        Dedup.simhashNearDupPairs(fps, "doc_id", "simhash", maxHamming = 6, bits = 60)
          .orderBy("id_a", "id_b")
      },
      Some {
        val sub = simhashSql(60)
        s"""WITH fps AS ($sub)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
           |FROM fps a, fps b
           |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 6
           |ORDER BY id_a, id_b""".stripMargin
      },
      // Exact band self-join: constant bucket space ⇒ N² candidate mass
      // (measured at 100×, SCALING.md). The linear tier with the same
      // output schema is the minhash-proposed, hamming-verified twin.
      scaleLimited = Some("q256_simhash_banded")),

    // Cluster resolution over the q49 near-dup pairs: connected
    // components by min-label propagation, then keep-one-per-cluster —
    // the step between pair generation and actually deduplicating a
    // corpus. Oracle computes the same components via a transitive-
    // closure recursion and takes the min reachable id.
    Q("q107_dedup_clusters",
      (s, d) => {
        val fps = Cached.persist(Dedup.simhashAgg(Tables.documents(s, d), "doc_id",
          TextOps.wordShingles(col("text"), 3), 60))
        fps.count()
        val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "simhash",
          maxHamming = 6, bits = 60)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("cluster"),
            (col("id") === col("cluster")).as("is_keeper"))
          .orderBy("doc_id")
      },
      Some {
        val sub = simhashSql(60)
        s"""WITH RECURSIVE fps AS ($sub),
           |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
           |  FROM fps a, fps b
           |  WHERE a.doc_id <> b.doc_id
           |    AND bit_count(xor(a.simhash, b.simhash)) <= 6),
           |reach AS (
           |  SELECT src, dst FROM e0
           |  UNION
           |  SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src)
           |SELECT src AS doc_id, least(src, min(dst)) AS cluster,
           |  least(src, min(dst)) = src AS is_keeper
           |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
      },
      // Rides q49's exact band self-join (N² at scale, measured —
      // SCALING.md round-11 sweep); the linear twin resolves components
      // over the minhash-proposed, hamming-verified pairs instead.
      scaleLimited = Some("q257_dedup_clusters_banded")),

    // Duplication-prevalence histogram over q107's clusters — the
    // corpus-audit number Lee et al. 2022 (arXiv:2107.06499) report
    // before deduplicating: how many documents sit at each duplication
    // level (cluster size), including the unclustered singletons as
    // level 1. The histogram is what decides whether near-dup removal
    // is worth a full pass at 100 TB (a corpus whose mass is at level 1
    // doesn't need it; one with fat high-level tails loses real epochs
    // to clones). Composes q107's component resolution verbatim —
    // fingerprint kernel, banded pairs, label propagation — then two
    // catalog-sized aggregations; the singleton row is total-docs minus
    // clustered-docs, so the histogram's n_docs column always sums to
    // the corpus size (DupPrevalenceSpec asserts it).
    Q("q235_dup_prevalence",
      (s, d) => {
        val fps = Cached.persist(Dedup.simhashAgg(Tables.documents(s, d), "doc_id",
          TextOps.wordShingles(col("text"), 3), 60))
        fps.count()
        val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "simhash",
          maxHamming = 6, bits = 60)
        val comp = Dedup.connectedComponents(pairs)
        val hist = comp.groupBy("cluster").agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"))
        val singles = Tables.documents(s, d).agg(count(lit(1)).as("tot"))
          .crossJoin(comp.agg(count(lit(1)).as("n_in")))
          .select(lit(1L).as("cluster_size"),
            (col("tot") - col("n_in")).as("n_clusters"))
          .filter(col("n_clusters") > 0)
        hist.unionByName(singles)
          .groupBy("cluster_size").agg(sum("n_clusters").as("n_clusters"))
          .select(col("cluster_size"), col("n_clusters"),
            (col("cluster_size") * col("n_clusters")).as("n_docs"))
          .orderBy("cluster_size")
      },
      Some {
        val sub = simhashSql(60)
        s"""WITH RECURSIVE fps AS ($sub),
           |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
           |  FROM fps a, fps b
           |  WHERE a.doc_id <> b.doc_id
           |    AND bit_count(xor(a.simhash, b.simhash)) <= 6),
           |reach AS (
           |  SELECT src, dst FROM e0
           |  UNION
           |  SELECT r.src, e.dst FROM reach r JOIN e0 e ON r.dst = e.src),
           |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster
           |  FROM reach GROUP BY src),
           |cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
           |  FROM comp GROUP BY cluster),
           |h AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
           |  FROM cs GROUP BY cluster_size),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM documents),
           |nin AS (SELECT CAST(count(*) AS BIGINT) AS n FROM comp),
           |s1 AS (SELECT CAST(1 AS BIGINT) AS cluster_size, t - n AS n_clusters
           |  FROM tot CROSS JOIN nin WHERE t - n > 0),
           |m AS (SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
           |  FROM (SELECT * FROM h UNION ALL SELECT * FROM s1)
           |  GROUP BY cluster_size)
           |SELECT cluster_size, n_clusters,
           |  cluster_size * n_clusters AS n_docs
           |FROM m ORDER BY cluster_size""".stripMargin
      },
      // Same proactive annotation as q232: under the 100× budget (54.4)
      // but structurally N² via the simhash band join's fixed bucket
      // space; q240 is the same histogram on the measured-linear
      // banded-verified tier.
      scaleLimited = Some("q240_dup_prevalence_banded")),

    // MinHash LSH banded candidate pairs — the registered, oracle-checked
    // form of the banding scheme (12 hashes × 4 bands of 3). The
    // permutation family is one md5 + 12 universal hashes
    // (a·x1 + b·x2 + c mod 2^61−1) with coefficient literals shared by
    // the plan and the SQL, so DuckDB mirrors the exact banding.
    Q("q52_minhash_pairs",
      (s, d) =>
        Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          shingleN = 3, numHashes = 12, bands = 4)
          .orderBy("id_a", "id_b"),
      Some {
        val numHashes = 12
        val bands = 4
        val rpb = numHashes / bands
        val coeffs = Dedup.minhashCoeffs(numHashes, 7L)
        val hs = (0 until numHashes).map { i =>
          val (a, b, c) = coeffs(i)
          s"min(($a * (h & ${(1L << 30) - 1}) + $b * (h >> 30) + $c) % ${Dedup.MinhashPrime}) AS h$i"
        }.mkString(",\n  ")
        val bandSelects = (0 until bands).map { b =>
          val bs = (b * rpb until (b + 1) * rpb).map(h => s"h$h").mkString("[", ", ", "]")
          s"SELECT doc_id, $b AS band, $bs AS bs FROM sig"
        }.mkString("\n  UNION ALL ")
        s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
           |sh AS (SELECT doc_id, unnest(${sqlShingles(3)}) AS s FROM toks WHERE len(toks) >= 3),
           |hashed AS (SELECT doc_id, ${sqlHash60("s")} AS h FROM sh),
           |sig AS (SELECT doc_id,
           |  $hs
           |  FROM hashed GROUP BY doc_id),
           |banded AS ($bandSelects)
           |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.bs = b.bs AND a.doc_id < b.doc_id
           |ORDER BY id_a, id_b""".stripMargin
      }),

    // GPT-style sequence packing: the doc_id-ordered token stream chunked
    // into 256-token batches. The engine side is the two-pass distributed
    // prefix sum (no global-window single-partition collapse); the oracle
    // is the equivalent window cumsum.
    Q("q75_seq_packing",
      (s, d) =>
        Packing.packSequences(Tables.documents(s, d), "doc_id",
          TextOps.subwordCount(col("text")), budget = 256L)
          .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id,
              |    len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]')) AS n_tokens
              |  FROM documents),
              |c AS (SELECT doc_id, n_tokens,
              |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
              |  FROM t)
              |SELECT doc_id, n_tokens::BIGINT AS n_tokens,
              |  (cum_excl // 256)::BIGINT AS batch_id,
              |  (cum_excl % 256)::BIGINT AS batch_offset
              |FROM c ORDER BY doc_id""".stripMargin)),

    // Deterministic hash split (train/val/test by portable 60-bit hash
    // bucket) — stable across engines, leakage-free at any scale.
    Q("q76_hash_split",
      (s, d) =>
        Packing.hashSplit(Tables.documents(s, d), "text")
          .select(col("doc_id"), col("bucket"), col("split"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${sqlHash60("text")} % 100 AS bucket,
              |  CASE WHEN ${sqlHash60("text")} % 100 < 90 THEN 'train'
              |       WHEN ${sqlHash60("text")} % 100 < 95 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q44_quality",
      (s, d) =>
        TextOps.qualityScore(Tables.documents(s, d), "text")
          .select(col("doc_id"), col("n_tokens"),
            pround(col("mean_word_len"), 6).as("mean_word_len"),
            pround(col("stopword_ratio"), 6).as("stopword_ratio"),
            pround(col("punct_ratio"), 6).as("punct_ratio"),
            col("quality_score"))
          .orderBy("doc_id"),
      Some {
        val stopList = TextOps.StopWords.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
           |f AS (SELECT doc_id,
           |    len(toks)::BIGINT AS n_tokens,
           |    CASE WHEN len(toks) > 0
           |      THEN list_sum(list_transform(toks, x -> len(x)::DOUBLE)) / len(toks) END AS mean_word_len,
           |    CASE WHEN len(toks) > 0
           |      THEN len(list_filter(toks, x -> list_contains($stopList, lower(x))))::DOUBLE / len(toks) END AS stopword_ratio,
           |    CASE WHEN len(text) > 0
           |      THEN len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / len(text) END AS punct_ratio
           |  FROM t)
           |SELECT doc_id, n_tokens, ${sqlRound("mean_word_len", 6)} AS mean_word_len,
           |  ${sqlRound("stopword_ratio", 6)} AS stopword_ratio,
           |  ${sqlRound("punct_ratio", 6)} AS punct_ratio,
           |  ${sqlRound("""CASE WHEN n_tokens = 0 THEN 0.0 ELSE
           |    1.0 * least(1.0, n_tokens::DOUBLE / 16.0)
           |        * least(1.0, stopword_ratio * 8.0)
           |        * greatest(0.0, 1.0 - punct_ratio * 4.0)
           |        * (CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END)
           |  END""", 6)} AS quality_score
           |FROM f ORDER BY doc_id""".stripMargin
      }),

    Q("q45_langid",
      (s, d) =>
        TextOps.withLangId(Tables.documents(s, d), "text")
          .select(col("doc_id"), col("lang").as("lang_actual"), col("lang_pred"), col("lang_score"))
          .orderBy("doc_id"),
      Some {
        val langs = TextOps.LangMarkers.toSeq.sortBy(_._1)
        val scoreExprs = langs.map { case (lang, markers) =>
          val arr = markers.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(toks, x -> list_contains($arr, x)))::DOUBLE / greatest(len(toks), 1) AS s_$lang"
        }.mkString(",\n    ")
        val best = langs.map(l => s"s_${l._1}").mkString("greatest(", ", ", ")")
        // Tie-break must match Spark's array_max over (score, lang)
        // structs: max score, then max lang string — so CASE tests langs
        // in DESCENDING name order.
        val caseChain = langs.map(_._1).sorted.reverse
          .map(l => s"WHEN s_$l = best THEN '$l'").mkString("CASE ", " ", " END")
        s"""WITH t AS (SELECT doc_id, lang,
           |    list_filter(string_split_regex(lower(text), '\\s+'), t -> len(t) > 0) AS toks
           |  FROM documents),
           |scored AS (SELECT doc_id, lang,
           |    $scoreExprs
           |  FROM t),
           |b AS (SELECT *, $best AS best FROM scored)
           |SELECT doc_id, lang AS lang_actual, $caseChain AS lang_pred,
           |  ${sqlRound("best", 6)} AS lang_score
           |FROM b ORDER BY doc_id""".stripMargin
      }),

    Q("q46_token_counts",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            TextOps.tokenCount(col("text")).as("n_ws_tokens"),
            TextOps.subwordCount(col("text")).as("n_subwords"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, len($sqlToks) AS n_ws_tokens,
              |  len(regexp_extract_all(text, '[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]')) AS n_subwords
              |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("q47_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"),
            TextOps.md5Hash60(col("text")).as("hash60"))
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
              |  ${sqlHash60("text")} AS hash60
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Winnowing (Schleimer 2003): k-gram rolling hashes, per-window
    // minima, dedup — the content-defined fingerprint family. One scan,
    // all HOFs; oracle mirrors with list comprehensions over the same
    // 60-bit hash.
    Q("q105_winnowing",
      (s, d) =>
        TextOps.winnowingFingerprints(Tables.documents(s, d), "doc_id", "text",
          k = 4, w = 5)
          .orderBy("doc_id", "fp"),
      Some(s"""WITH n AS (SELECT doc_id,
              |    lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
              |  FROM documents),
              |g AS (SELECT doc_id,
              |    [${sqlHash60("substr(t, i, 4)")} FOR i IN range(1, greatest(len(t) - 3, 0) + 1)] AS hs
              |  FROM n),
              |m AS (SELECT doc_id,
              |    [list_min(hs[i:i+4]) FOR i IN range(1, greatest(len(hs) - 4, 0) + 1)] AS mins
              |  FROM g)
              |SELECT DISTINCT doc_id, unnest(mins) AS fp
              |FROM m ORDER BY doc_id, fp""".stripMargin)))

  // ------------------------------------------------------------------
  // Multimodal plumbing: binary payloads + stubbed decode
  // ------------------------------------------------------------------

  private val multimodal: Seq[Q] = Seq(
    Q("q50_mm_histogram",
      (s, d) => {
        // Payload = UTF-8 bytes of the text (documents are ASCII, so the
        // byte histogram is oracle-expressible over codepoints).
        val docs = Tables.documents(s, d)
          .filter(length(col("text")) > 0)
          .withColumn("payload", col("text").cast("binary"))
        val decoded = Multimodal.withDecodedFeatures(
          docs, "payload", "features", new Multimodal.StubImageDecoder)
        decoded
          .select(col("doc_id"), posexplode(col("features")))
          .select(col("doc_id"), col("pos").as("bin"),
            pround(col("col").cast("double"), 6).as("freq"))
          .orderBy("doc_id", "bin")
      },
      Some(s"""WITH ch AS (SELECT doc_id, unicode(c) // 16 AS bin
             |  FROM documents, unnest(string_split(text, '')) t(c)
             |  WHERE len(text) > 0),
             |n AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY doc_id),
             |cnt AS (SELECT doc_id, bin, count(*) AS c FROM ch GROUP BY doc_id, bin),
             |bins AS (SELECT unnest(generate_series(0, 15)) AS bin)
             |SELECT n.doc_id, bins.bin,
             |  ${sqlRound("(coalesce(cnt.c, 0)::FLOAT / n.n::FLOAT)::DOUBLE", 6)} AS freq
             |FROM n CROSS JOIN bins
             |LEFT JOIN cnt ON cnt.doc_id = n.doc_id AND cnt.bin = bins.bin
             |ORDER BY n.doc_id, bins.bin""".stripMargin)))

  def all: Seq[Q] = vector ++ text ++ multimodal
}
