package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row repetition statistics — the q62 pair
  * (dup-token fraction, dup-bigram fraction) in ONE string pass,
  * replacing the materialize-tokens → array_distinct → shingle
  * transform → array_distinct Column composite (four array
  * materializations per row). Same fusion pattern as
  * MinHashSig/SimHashFp/GopherStats; the composite combinators
  * (`TextAnalysis.dupTokenFrac`/`dupBigramFrac`) are retained as the
  * equivalence reference model and for callers holding a token array.
  *
  * Semantics replicate the composite exactly:
  *  - tokens = split(lower(trim(text)), "\\s+") with Spark's
  *    lower/trim — empty edge tokens KEPT (a blank doc is [""], one
  *    token), matching the unfiltered `NearDup.tokens` the composite
  *    consumes;
  *  - dup_tok_frac  = 1 − distinct(tokens)/n        (0.0 when n = 0);
  *  - dup_bigram_frac = 1 − distinct(bigrams)/(n−1) (0.0 when n < 2),
  *    bigrams = adjacent tokens joined with one space, exactly
  *    `shinglesFromTokens(w, 2)`;
  *  - null text → null (the composite's fracs are null for null
  *    input too — both sides propagate).
  * All ratios are exact integer counts in double division, so the
  * 6 dp display rounding downstream cannot flip across engines.
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(Seq(
    StructField("dup_tok_frac", DoubleType, nullable = false),
    StructField("dup_bigram_frac", DoubleType, nullable = false)))

  override def prettyName: String = "repetition_stats"

  override protected def nullSafeEval(v: Any): Any =
    RepetitionStatsKernel.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.expr.RepetitionStatsKernel$$.MODULE$$.compute($a);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[expr] object RepetitionStatsKernel {

  def compute(v: UTF8String): InternalRow = {
    // Spark-exact normalization + split, shared with SimHashFpKernel
    // (its property pin proves the tokenization bit-equal): empty
    // edge tokens kept, [""] for a blank doc
    val toks = Tok.sparkTokens(v)
    val n = toks.length
    val dt = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { dt.add(toks(i)); i += 1 }
    val dupTok = if (n <= 0) 0.0 else 1.0 - dt.size.toDouble / n.toDouble
    val dupBg =
      if (n < 2) 0.0
      else {
        val bg = new java.util.HashSet[String]()
        var j = 0
        while (j < n - 1) { bg.add(toks(j) + " " + toks(j + 1)); j += 1 }
        1.0 - bg.size.toDouble / (n - 1).toDouble
      }
    new GenericInternalRow(Array[Any](dupTok, dupBg))
  }
}
