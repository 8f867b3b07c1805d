package graft.text

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextStats
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.Rounding.pround
import graft.SparkSpec

/** The one-pass text-statistics kernel behind `TextOps.qualityScore`,
  * `tokenCount` and `subwordCount`, against the regex/higher-order-lambda
  * formulation it replaced, kept here as the reference. Doubles compare
  * by raw bits; NULLs must be NULL on both sides.
  */
class TextStatsSpec extends SparkSpec {

  /** The replaced formulation, verbatim. */
  private object Reference {
    def tokens(text: Column): Column = filter(split(text, "\\s+"), t => length(t) > 0)
    def tokenCount(text: Column): Column = size(tokens(text))
    def subwordCount(text: Column): Column =
      size(regexp_extract_all(text, lit("[A-Za-z0-9]{1,4}|[^A-Za-z0-9\\s]"), lit(0)))

    def qualityScore(df: DataFrame, textCol: String): DataFrame = {
      val t = col(textCol)
      val toks = tokens(t)
      val nTok = size(toks)
      val stopArr = array(TextOps.StopWords.map(lit): _*)
      val nStop = size(filter(toks, w => array_contains(stopArr, lower(w))))
      val nPunct = size(regexp_extract_all(t, lit("[^A-Za-z0-9\\s]"), lit(0)))
      val nChars = length(t)
      df.withColumn("n_chars_m", nChars.cast("long"))
        .withColumn("n_tokens", nTok.cast("long"))
        .withColumn("mean_word_len",
          when(nTok > 0, aggregate(toks, lit(0.0), (a, w) => a + length(w)) / nTok))
        .withColumn("stopword_ratio", when(nTok > 0, nStop.cast("double") / nTok))
        .withColumn("punct_ratio", when(nChars > 0, nPunct.cast("double") / nChars))
        .withColumn("quality_score",
          pround(
            when(col("n_tokens") === 0, 0.0).otherwise(
              lit(1.0)
                * least(lit(1.0), col("n_tokens").cast("double") / 16.0)
                * least(lit(1.0), col("stopword_ratio") * 8.0)
                * greatest(lit(0.0), lit(1.0) - col("punct_ratio") * 4.0)
                * when(col("mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.5)),
            6))
    }
  }

  private val handPicked: Seq[String] = Seq(
    "The cat sat on the mat, and it purred.",
    "\tTHE\tdog\u000Bof\fthe\r\nyard \t",
    "   leading and trailing whitespace   ",
    "no\u00A0break\u00A0space and the\u00A0end",
    "em\u2003space is\u2003here \u2003 the",
    "", " ", "   \t\n\r\u000B\f ", null,
    "surrogate \uD83D\uDE00 emoji \uD83D\uDE00\uD83D\uDE00 and \uD835\uDD18\uD835\uDD2B the",
    "a lone \uD83D surrogate",
    "THE The tHe the tHE",
    "\u212A \u212Aelvin \u212A\u212A the \u212AT",
    "\u0130s is \u0130S IS i\u0307s \u0130T it I\u0307S I\u0307T WI\u0307TH",
    "!!! ?? ... $$ ## &&",
    "a ab abc abcd abcde abcdef abcdefg abcdefgh abcdefghi",
    "1 12 123 1234 12345 123456 1234567 12345678 123456789",
    "ab12cd34ef-gh_ij.klmnopq,r",
    "caf\u00E9 r\u00E9sum\u00E9 na\u00EFve \u00E9t\u00E9 of the",
    "The\u00A0the that with",
    "ctrl\u001Cchars\u001F are \u0085 not \u3000 space",
    "that With FROM by At as ON for IT in TO and OF a the is")

  /** Seeded strings over ASCII letters and digits, punctuation, all six
    * whitespace characters, stopwords, and non-ASCII code points
    * (NBSP, U+2003, accented letters, the Kelvin sign, İ, I + U+0307, an
    * emoji). */
  private def randomTexts(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    val pieces = Seq("the", "The", "THE", "a", "of", "is", "And", "from", "\u212A", "\u0130s",
      "I\u0307S", "\u00A0", "\u2003", "\u00E9", "\uD83D\uDE00", ".", ",", "-", "$", "_")
    val spaces = Seq(" ", "\t", "\n", "\u000B", "\f", "\r")
    val alnum = ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')
    Seq.fill(n) {
      val sb = new StringBuilder
      (0 until r.nextInt(40)).foreach { _ =>
        r.nextInt(4) match {
          case 0 => sb ++= pieces(r.nextInt(pieces.length))
          case 1 => sb ++= spaces(r.nextInt(spaces.length))
          case _ => (0 until 1 + r.nextInt(9)).foreach(_ => sb += alnum(r.nextInt(alnum.length)))
        }
      }
      sb.toString
    }
  }

  private def docs(texts: Seq[String]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }, 3),
      StructType(Seq(StructField("id", org.apache.spark.sql.types.LongType),
        StructField("text", StringType))))

  private val outputs = Seq("n_chars_m", "n_tokens", "mean_word_len", "stopword_ratio",
    "punct_ratio", "quality_score", "tok", "sub")

  /** Every output as a raw-bit string, by id. */
  private def rows(df: DataFrame, tokenCount: Column => Column,
      subwordCount: Column => Column): Seq[(String, String)] =
    df.withColumn("tok", tokenCount(col("text")))
      .withColumn("sub", subwordCount(col("text")))
      .select((col("id") +: outputs.map(col)): _*)
      .collect().toSeq.sortBy(_.getLong(0)).map { r =>
        val vals = outputs.indices.map { i =>
          r.get(i + 1) match {
            case d: Double => f"0x${java.lang.Double.doubleToRawLongBits(d)}%x"
            case v => String.valueOf(v)
          }
        }
        s"id ${r.getLong(0)}" -> vals.mkString(" ")
      }

  private def withConf[A](kv: Seq[(String, String)])(f: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `f` with the JVM's default locale set to `tag`. */
  private def withLocale[A](tag: Option[String])(f: => A): A = {
    val before = java.util.Locale.getDefault
    tag.foreach(t => java.util.Locale.setDefault(java.util.Locale.forLanguageTag(t)))
    try f
    finally java.util.Locale.setDefault(before)
  }

  private val icuOff = Seq(SQLConf.ICU_CASE_MAPPINGS_ENABLED.key -> "false")

  /** Without ICU, `lower` of a non-ASCII token uses the JVM locale; under
    * Turkish rules `I\u0307S` lowers to the stopword `is`, and `WI\u0307TH`,
    * five code points, to `with`. */
  private val modes = Seq(
    ("whole-stage codegen", Seq.empty[(String, String)], None),
    ("interpreted", Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"), None),
    ("ANSI off (size of NULL is -1)", Seq("spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.sizeOfNull" -> "true"), None),
    ("ICU case mappings off", icuOff, None),
    ("ICU case mappings off, Turkish locale", icuOff, Some("tr")))

  private def assertSame(texts: Seq[String]): Unit = modes.foreach { case (mode, conf, locale) =>
    withConf(conf)(withLocale(locale) {
      val d = docs(texts)
      val got = rows(TextOps.qualityScore(d, "text"), TextOps.tokenCount, TextOps.subwordCount)
      val want = rows(Reference.qualityScore(d, "text"), Reference.tokenCount,
        Reference.subwordCount)
      assert(got.length == texts.length)
      got.zip(want).foreach { case (g, w) =>
        assert(g == w, s"[$mode] text ${Option(texts(g._1.drop(3).toInt))
          .map(_.map(c => f"${c.toInt}%04x").mkString(" "))}: got $g, want $w")
      }
      assert(TextOps.qualityScore(d, "text").schema == Reference.qualityScore(d, "text").schema)
    })
  }

  test("quality features, tokenCount and subwordCount equal the regex/lambda formulation on edge cases") {
    assertSame(handPicked)
  }

  test("quality features, tokenCount and subwordCount equal the regex/lambda formulation on seeded strings") {
    assertSame(randomTexts(13L, 600))
  }

  // ----------------------------------------------------- plan guard

  private def physical(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => physical(a.executedPlan)
    case q: QueryStageExec => physical(q.plan)
    case other => other.children.flatMap(physical)
  })

  /** The optimized and executed plans hold the kernel exactly once and no
    * interpreted (`CodegenFallback`) expression. */
  private def assertOneKernel(name: String, df: DataFrame): Unit = {
    df.collect()
    val qe = df.queryExecution
    val plans = Seq("optimized" -> qe.optimizedPlan.collect { case n => n.expressions },
      "executed" -> physical(qe.executedPlan).map(_.expressions))
    plans.foreach { case (which, exprs) =>
      val all = exprs.flatten
      val kernels = all.flatMap(_.collect { case k: TextStats => k })
      val fallbacks = all.flatMap(_.collect { case e: CodegenFallback => e })
      assert(kernels.length == 1, s"$name: ${kernels.length} kernels in the $which plan")
      assert(fallbacks.isEmpty, s"$name: interpreted expressions in the $which plan: $fallbacks")
    }
  }

  test("qualityScore, tokenCount and subwordCount run the kernel once, in codegen") {
    val d = spark.range(0, 200, 1, 2)
      .select(col("id"), concat(lit("The doc, "), col("id").cast("string"), lit(" of it"))
        .as("text"))
    assertOneKernel("qualityScore", TextOps.qualityScore(d, "text"))
    assertOneKernel("tokenCount", d.select(TextOps.tokenCount(col("text"))))
    assertOneKernel("subwordCount", d.select(TextOps.subwordCount(col("text"))))
  }
}
