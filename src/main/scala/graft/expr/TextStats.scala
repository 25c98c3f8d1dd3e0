package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused text statistics: (n_tokens, char_nws, punct_n, stop_hits) in
  * two tight passes over the string, replacing 4-6 regex/higher-order
  * evaluations per row. Semantics replicate the composite combinators
  * exactly:
  *  - n_tokens = size(split(lower(trim(text)), "\\s+")): Spark trim
  *    strips ONLY ASCII spaces, and split (limit -1) KEEPS the empty
  *    leading/trailing tokens produced by other whitespace;
  *  - char_nws / punct_n count CODE POINTS over the raw text (Spark
  *    length()/regex are code-point based);
  *  - stop_hits compares lowercased tokens against the stopwords
  *    AS GIVEN (a mixed-case stopword matches nothing, same as
  *    `isin`).
  * Equivalence is spec-asserted on the corpus AND on the divergent
  * classes (leading/trailing tabs/newlines, non-BMP chars,
  * mixed-case profiles).
  */
case class TextStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("char_nws", LongType, nullable = false),
    StructField("punct_n", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))

  override def prettyName: String = "text_stats"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopwords.foreach(s.add) // as given — isin semantics
    s
  }

  override protected def nullSafeEval(v: Any): Any =
    TextStatsKernel.compute(v.asInstanceOf[UTF8String].toString, stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expr.TextStatsKernel$$.MODULE$$.compute($a.toString(), $setRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[expr] object TextStatsKernel {

  /** Java regex \s — six ASCII code points. */
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  /** The SQL lower() path (UTF8String) — locale-immune, byte-equal to
    * the composite `lower(...)` this kernel is spec-pinned against;
    * default-locale String.toLowerCase would turn "It" into dotless-ı
    * "ıt" on a tr_TR executor JVM and miss every stopword. */
  private def lowerSql(s: String): String =
    org.apache.spark.unsafe.types.UTF8String.fromString(s).toLowerCase.toString

  def compute(s: String, stop: java.util.HashSet[String]): InternalRow = {
    // pass 1 — raw text, code points: non-ws chars + punctuation
    var charNws = 0L
    var punct = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!isWs(cp)) {
        charNws += 1
        val alnum = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
          (cp >= '0' && cp <= '9')
        if (!alnum) punct += 1
      }
      i += Character.charCount(cp)
    }

    // pass 2 — tokens over the SPACE-trimmed text (Spark trim strips
    // only 0x20); split keeps empty edge tokens from other whitespace
    var lo = 0
    var hi = s.length
    while (lo < hi && s.charAt(lo) == ' ') lo += 1
    while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
    var nTokens = 0L
    var stopHits = 0L
    if (lo == hi) {
      nTokens = 1 // split("") -> [""]
    } else {
      if (isWs(s.charAt(lo))) nTokens += 1  // leading empty token
      if (isWs(s.charAt(hi - 1))) nTokens += 1 // trailing empty token
      val sb = new java.lang.StringBuilder
      var j = lo
      while (j < hi) {
        val c = s.charAt(j)
        if (isWs(c)) {
          if (sb.length > 0) {
            nTokens += 1
            if (stop.contains(lowerSql(sb.toString))) stopHits += 1
            sb.setLength(0)
          }
        } else sb.append(c)
        j += 1
      }
      if (sb.length > 0) {
        nTokens += 1
        if (stop.contains(lowerSql(sb.toString))) stopHits += 1
      }
    }
    new GenericInternalRow(Array[Any](nTokens, charNws, punct, stopHits))
  }
}
