package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextStatsExpressions.textStats
import graft.Rounding.pround

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Built from `functions._` expressions and codegen'd kernels (no UDFs).
  * The `filter`/`transform`/`aggregate` lambdas of [[tokens]],
  * [[wordShingles]] and [[withLangId]] are `CodegenFallback` (interpreted
  * per element); the per-document counts run on one kernel,
  * [[org.apache.spark.sql.graft.TextStats]], that scans each text once.
  */
object TextOps {

  /** Portable 60-bit hash: first 15 hex digits of md5, parsed base-16.
    * Chosen because BOTH Spark (`conv(substr(md5(s),1,15),16,10)`) and
    * DuckDB (`('0x' || substr(md5(s),1,15))::BIGINT`) compute it
    * identically — the backbone of every oracle-checkable hash operator.
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant for minhash permutations. */
  def md5Hash60Seeded(c: Column, seed: Int): Column =
    md5Hash60(concat(lit(seed.toString), lit(":"), c))

  /** Whitespace tokenization — `\s+` split, empty tokens dropped. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** `size` of a NULL array (-1 or NULL): what a NULL text counts as. */
  private def nullSize: Column = size(lit(null).cast("array<string>"))

  /** One field of a text's `graft_text_stats`; for a NULL text, [[nullSize]]. */
  private def stat(stats: Column, field: String): Column =
    coalesce(stats.getField(field), nullSize)

  /** Whitespace token count, `size(tokens(text))`, in one text scan. */
  def tokenCount(text: Column): Column = stat(textStats(text), "n_tokens")

  /** BPE-ish subword count: matches of `[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]`
    * — a public approximation of byte-pair tokenizers' ~4-chars-per-token
    * behavior, exact enough for budget accounting. Counted in one text scan.
    */
  def subwordCount(text: Column): Column = stat(textStats(text), "n_subwords")

  /** Word n-gram shingles of the whitespace tokens, joined by a single
    * space. Output: array of strings, length max(0, #tokens − n + 1).
    */
  def wordShingles(text: Column, n: Int): Column = {
    // Linear formulation: zip the token array with its k-shifted copies
    // (k = 1..n−1) concatenating as we go, then trim the ragged tail.
    // The naive per-position slice+join is O(len²) per document — at 100 TB
    // of text that quadratic constant is the difference between a shingle
    // pass and a stuck stage.
    val toks = tokens(text)
    val combined = (1 until n).foldLeft(toks) { (acc, k) =>
      val shifted = slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0)))
      zip_with(acc, shifted, (a, b) => concat_ws(" ", a, b))
    }
    slice(combined, lit(1), greatest(size(toks) - (n - 1), lit(0)))
  }

  /** Exact-dup fingerprint: md5 of whitespace-normalized, lower-cased
    * text (rolling-hash document fingerprint, F-style).
    */
  def fingerprint(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))))

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, public
    * knowledge — the MOSS scheme): hash every character k-gram of the
    * normalized text, keep the minimum hash of each window of `w`
    * consecutive k-gram hashes, deduplicate. Guarantees every shared
    * substring of length ≥ k + w − 1 contributes at least one common
    * fingerprint — the rolling-hash document-fingerprint family.
    *
    * Shape: winnowing is per-DOCUMENT local, so the whole kernel
    * (k-gram MD5 → monotonic-deque sliding min → distinct) runs as ONE
    * codegen'd projection expression
    * ([[org.apache.spark.sql.graft.WinnowFingerprints]]) — zero
    * corpus-sized exchanges. The earlier explode → Window → distinct
    * formulation shuffled every gram row by id and paid two interpreted
    * WindowExec passes (measured ~3.1 s warm at sf0.1 vs ~0.6 s for
    * this shape, PLANS.md "Round 10 — q105_winnowing"); at 100 TB the
    * fingerprint scan should be embarrassingly parallel map work, and
    * now is. The 60-bit hash is bit-identical to
    * `conv(substring(md5(g), 1, 15), 16, 10)` — oracle parity holds.
    * Output: (idCol, fp) — distinct fingerprints per document.
    */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 5): DataFrame = {
    // The normalization (regexp) runs once per document in its own
    // projection; the kernel sees the materialized normalized string.
    val norm = lower(trim(regexp_replace(col(textCol), "\\s+", " ")))
    df.select(col(idCol), norm.as("__t"))
      .select(col(idCol),
        explode(org.apache.spark.sql.graft.WinnowExpressions
          .winnowFingerprints(col("__t"), k, w)).as("fp"))
  }

  /** Quality features (length / punctuation / stopword ratios — the
    * C4/Gopher-style heuristics, public knowledge).
    */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
    "that", "it", "for", "on", "as", "with", "at", "by", "from")

  /** The five features come from one scan of each text, bound once as a
    * column so the projections above read its fields and do not re-run it. */
  def withQualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val withStats = df.withColumn("__ts", textStats(col(textCol)))
    val nTok = stat(col("__ts"), "n_tokens")
    val nChars = col("__ts.n_chars")
    withStats.withColumn("n_chars_m", nChars.cast("long"))
      .withColumn("n_tokens", nTok.cast("long"))
      .withColumn("mean_word_len",
        when(nTok > 0, col("__ts.token_chars").cast("double") / nTok))
      .withColumn("stopword_ratio", when(nTok > 0, col("__ts.n_stop").cast("double") / nTok))
      .withColumn("punct_ratio", when(nChars > 0, col("__ts.n_punct").cast("double") / nChars))
      .drop("__ts")
  }

  /** Composite quality score in [0,1]: penalties for too-short docs, low
    * stopword ratio, high punctuation ratio, extreme mean word length.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame =
    withQualityFeatures(df, textCol).withColumn("quality_score",
      pround(
        when(col("n_tokens") === 0, 0.0).otherwise(
          lit(1.0)
            * least(lit(1.0), col("n_tokens").cast("double") / 16.0)
            * least(lit(1.0), col("stopword_ratio") * 8.0)
            * greatest(lit(0.0), lit(1.0) - col("punct_ratio") * 4.0)
            * when(col("mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.5)),
        6))

  /** N-gram-frequency language ID: scores each candidate language by the
    * fraction of the doc's tokens that appear in that language's tiny
    * public stopword list; ties break lexicographically. Deliberately a
    * heuristic (real models are out of scope) but a faithful shape for the
    * langid stage of a data pipeline: one pass, no shuffle.
    */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "es"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "est"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "ist"),
    "zh" -> Seq("de", "le", "shi", "zai", "he", "you", "wo", "ta"))

  def withLangId(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(lower(col(textCol)))
    val scored = LangMarkers.toSeq.sortBy(_._1).map { case (lang, markers) =>
      val arr = array(markers.map(lit): _*)
      struct(
        (size(filter(toks, w => array_contains(arr, w))).cast("double") /
          greatest(size(toks), lit(1))).as("score"),
        lit(lang).as("lang"))
    }
    // array_max on (score, lang) structs: max score, then max lang — make
    // tie-break deterministic by DESCENDING lang so it matches SQL's
    // arg-max-with-min-lang only when scores differ; we instead emit the
    // score too so ties are visible.
    df.withColumn("__best", array_max(array(scored: _*)))
      .withColumn("lang_pred", col("__best.lang"))
      .withColumn("lang_score", pround(col("__best.score"), 6))
      .drop("__best")
  }

  /** Gopher-style repetition metrics (Rae et al. 2021 §A1.1, public
    * knowledge), per document:
    *
    *  - `top2_frac`: max over word-2-grams of
    *    `occurrences(g) · chars(g) / chars(doc)` — the "fraction of
    *    characters in the most repetitious 2-gram" filter (our max is over
    *    the count·length PRODUCT, which removes the tie-break ambiguity of
    *    "most frequent gram" while keeping the same filtering power);
    *  - `dup_frac`: Σ over word-`dupN`-grams occurring ≥ 2 times of
    *    `occurrences(g) · chars(g) / chars(doc)` — the duplicated-n-gram
    *    mass (overlaps double-count, so the score can exceed 1; it is a
    *    filter statistic, not a proportion). Gopher uses n ∈ 5..10 on web
    *    text; `dupN` is a parameter because the right n tracks the
    *    corpus's natural repetition length.
    *
    * Shape: two explode→count aggregations keyed by (doc, gram) — the
    * heavy lifting is hash aggregation with map-side partials, so a
    * 100 TB corpus pays two shuffles of (id, gram-hash) pairs and no
    * per-document state exceeds a gram row.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      dupN: Int = 3): DataFrame = {
    val base = df.select(col(idCol), col(textCol).as("__text"),
      length(col(textCol)).as("__nc"))
    def gramMass(n: Int) = base
      .select(col(idCol), explode(wordShingles(col("__text"), n)).as("g"))
      .groupBy(idCol, "g").count()
    val top2 = gramMass(2)
      .groupBy(idCol)
      .agg(max(col("count") * length(col("g"))).as("__top2"))
    val dup = gramMass(dupN)
      .filter(col("count") >= 2)
      .groupBy(idCol)
      .agg(sum(col("count") * length(col("g"))).as("__dup"))
    base
      .join(top2, Seq(idCol), "left")
      .join(dup, Seq(idCol), "left")
      .select(col(idCol), col("__nc").cast("long").as("n_chars"),
        pround(coalesce(col("__top2"), lit(0L)).cast("double") / col("__nc"), 6)
          .as("top2_frac"),
        pround(coalesce(col("__dup"), lit(0L)).cast("double") / col("__nc"), 6)
          .as("dup_frac"))
  }
}
