package org.apache.spark.sql.graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationFactory, CollationSupport}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-document text statistics in one scan of the text's UTF-8 bytes:
  * the counts the quality features and the subword budget are built from.
  *
  * The rules are those of the regex/HOF formulation they replace:
  *  - whitespace is Java regex `\s`, i.e. `[ \t\n\x0B\f\r]` (U+00A0 and
  *    U+2003 are token characters);
  *  - a token is a maximal non-whitespace run of code points
  *    (`split(text, "\\s+")` with empty pieces dropped);
  *  - a token is a stopword ([[_root_.graft.text.TextOps.StopWords]]) when
  *    Spark's `lower` of it is one;
  *  - punctuation is a code point that is neither `[A-Za-z0-9]` nor
  *    whitespace (the matches of `[^A-Za-z0-9\s]`);
  *  - subwords are the matches of `[A-Za-z0-9]{1,4}|[^A-Za-z0-9\s]`
  *    scanned greedily: Σ⌈L/4⌉ over maximal ASCII-alnum runs, plus the
  *    punctuation;
  *  - lengths are code points, and `n_chars` is Spark's `length`.
  *
  * Whitespace and alnum are ASCII, so every rule reads single bytes: a code
  * point starts at each byte that is not a continuation byte `10xxxxxx`,
  * and a non-ASCII one is punctuation. Only a token that holds a non-ASCII
  * byte is lowered with `Lower.exec`: without ICU, `lower` follows the JVM
  * locale, under which a token can lower to fewer code points (Turkish
  * `WI` U+0307 `TH` to `with`).
  * The text is taken to be valid UTF-8, as Spark writes it.
  */
final class TextStatsKernel(useICU: Boolean) extends Serializable {
  import TextStatsKernel._

  /** Is Spark's `lower` of `text[from, until)` a stopword? */
  private def stop(text: UTF8String, from: Int, until: Int, ascii: Boolean): Boolean =
    if (ascii) {
      val len = until - from
      len < byLen.length && byLen(len).exists { w =>
        var j = 0
        while (j < len && lowerAscii(text.getByte(from + j)) == w(j)) j += 1
        j == len
      }
    } else {
      val lowered = CollationSupport.Lower.exec(text.copyUTF8String(from, until - 1),
        CollationFactory.UTF8_BINARY_COLLATION_ID, useICU).getBytes
      lowered.length < byLen.length &&
        byLen(lowered.length).exists(java.util.Arrays.equals(_, lowered))
    }

  def stats(text: UTF8String): InternalRow = {
    val n = text.numBytes
    var nTok, tokChars, nStop, nPunct, subs, run, tokLen = 0
    var start = -1
    var ascii, tokAscii = true
    var i = 0
    while (i <= n) {
      val b: Int = if (i < n) text.getByte(i) else ' '
      if ((b & 0xC0) != 0x80) {
        if (isSpace(b)) {
          if (start >= 0) {
            nTok += 1
            tokChars += tokLen
            if (stop(text, start, i, tokAscii)) nStop += 1
            start = -1
          }
          subs += (run + 3) >> 2
          run = 0
        } else {
          if (start < 0) {
            start = i
            tokLen = 0
            tokAscii = true
          }
          tokLen += 1
          if (isAlnum(b)) run += 1
          else {
            subs += (run + 3) >> 2
            run = 0
            nPunct += 1
            if (b < 0) {
              ascii = false
              tokAscii = false
            }
          }
        }
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](if (ascii) n else text.numChars, nTok, tokChars,
      nStop, nPunct, subs + nPunct))
  }
}

object TextStatsKernel {
  /** The output fields, in order. */
  val Fields: Seq[String] =
    Seq("n_chars", "n_tokens", "token_chars", "n_stop", "n_punct", "n_subwords")

  val dataType: StructType =
    StructType(Fields.map(StructField(_, IntegerType, nullable = false)))

  /** The stopwords' UTF-8 bytes, bucketed by byte length. */
  private val byLen: Array[Array[Array[Byte]]] = {
    val ws = _root_.graft.text.TextOps.StopWords.distinct.map(_.getBytes(UTF_8))
    Array.tabulate(ws.map(_.length).max + 1)(l => ws.filter(_.length == l).toArray)
  }

  @inline private def isSpace(c: Int): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  @inline private def isAlnum(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  @inline private def lowerAscii(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
}

/** `graft_text_stats(text)` → struct of the [[TextStatsKernel]] counts;
  * NULL for a NULL text. The generated code is one kernel call per row,
  * so the statistics stay in whole-stage codegen, unlike the `filter`/
  * `aggregate` lambdas (`CodegenFallback`) they replace.
  */
case class TextStats(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = TextStatsKernel.dataType
  override def prettyName: String = "graft_text_stats"

  /** Read on first use, as Spark's `Lower` reads it. */
  private lazy val useICU = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  @transient private lazy val kernel = new TextStatsKernel(useICU)

  override def nullSafeEval(t: Any): Any = kernel.stats(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("textStats", new TextStatsKernel(useICU),
      classOf[TextStatsKernel].getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $k.stats($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStatsExpressions {
  /** The statistics of `text`. */
  def textStats(text: Column): Column =
    ExpressionUtils.column(TextStats(ExpressionUtils.expression(text)))
}
