package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row Gopher quality metrics — replaces the two explodes
  * (word + bigram), four hash aggregations and per-doc join of
  * `TextAnalysis.gopherRawMetricsComposite` with ONE projection: each
  * row tokenizes and counts locally, so quality gating becomes a
  * map-only stage (q93) and the funnel one scalar aggregate (q126).
  * Same fusion pattern as MinHashSig/SimHashFp/HashedNgramFeatures;
  * equivalence with the retained composite is property-pinned and the
  * q93/q126 DuckDB oracles re-derive the metrics independently.
  *
  * Semantics replicate the composite exactly:
  *  - tokens = the NONEMPTY tokens of split(lower(trim(text)), "\\s+")
  *    with Spark's lower/trim (UTF8String simple case map, ASCII-space
  *    trim) — i.e. the maximal non-whitespace runs of the lowered text;
  *  - n_tokens = token count; mwl = Σ numChars / n (code points, like
  *    SQL length()); fa = fraction of tokens containing a Unicode
  *    letter (regex \p{L} ≡ Character.isLetter); twf = max word
  *    multiplicity / n;
  *  - tbf = max adjacent-bigram multiplicity / (n−1) over the FILTERED
  *    token sequence (the composite shingles the filtered array), NULL
  *    when n < 2 (the composite's left join misses);
  *  - zero nonempty tokens (or null text) → NULL row: the composite's
  *    explode drops such docs entirely, so the fused caller filters
  *    nulls to reproduce the row set.
  *
  * Per-row state is two hash maps bounded by the doc's distinct
  * words/bigrams — the same working set any per-doc tokenizer holds;
  * rows stream one at a time so there is no per-partition blowup.
  */
case class GopherStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def nullable: Boolean = true

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("mwl", DoubleType, nullable = false),
    StructField("fa", DoubleType, nullable = false),
    StructField("twf", DoubleType, nullable = false),
    StructField("tbf", DoubleType, nullable = true)))

  override def prettyName: String = "gopher_stats"

  override protected def nullSafeEval(v: Any): Any =
    GopherStatsKernel.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.expr.GopherStatsKernel$$.MODULE$$.compute($a);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[expr] object GopherStatsKernel {

  private def hasLetter(w: String): Boolean = {
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      if (Character.isLetter(cp)) return true
      i += Character.charCount(cp)
    }
    false
  }

  def compute(v: UTF8String): InternalRow = {
    // Spark-exact normalization (shared with SimHashFpKernel); the
    // composite filters empty tokens, so only non-ws runs count
    val toks = Tok.sparkTokens(v)
    val wc = new java.util.HashMap[String, Long]()
    val bc = new java.util.HashMap[String, Long]()
    var total = 0L
    var totalLen = 0L
    var letters = 0L
    var prev: String = null
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      if (w.nonEmpty) {
        total += 1
        totalLen += w.codePointCount(0, w.length)
        if (hasLetter(w)) letters += 1
        wc.put(w, wc.getOrDefault(w, 0L) + 1L)
        if (prev != null) {
          val bg = prev + " " + w
          bc.put(bg, bc.getOrDefault(bg, 0L) + 1L)
        }
        prev = w
      }
      i += 1
    }
    if (total == 0L) return null // composite's explode drops the doc
    var maxW = 0L
    val wIt = wc.values.iterator()
    while (wIt.hasNext) { val c = wIt.next(); if (c > maxW) maxW = c }
    val n = total.toDouble
    val tbf: Any =
      if (total < 2L) null
      else {
        var maxB = 0L
        val bIt = bc.values.iterator()
        while (bIt.hasNext) { val c = bIt.next(); if (c > maxB) maxB = c }
        maxB.toDouble / (total - 1L).toDouble
      }
    new GenericInternalRow(Array[Any](total, totalLen.toDouble / n,
      letters.toDouble / n, maxW.toDouble / n, tbf))
  }
}
