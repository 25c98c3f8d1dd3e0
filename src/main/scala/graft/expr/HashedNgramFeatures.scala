package graft.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused DSIR hashed-n-gram featurizer — one text pass per row
  * replacing the tokens→filter→zip_with-bigrams→transform(sha2/conv/
  * pmod) Column composite (Dsir.hashedNgramFeatures's previous body,
  * kept as `Dsir.hashedNgramFeaturesComposite` for the equivalence
  * spec). The composite evaluates the regex split several times per
  * row (once per slice reference) and round-trips every feature
  * through hex-string sha2 + string conv; this kernel tokenizes once
  * and reads the bucket id straight from the first four digest bytes.
  * q92's scorer was the suite's most expensive scalar kernel — this
  * is the `MinHashSig` fusion pattern applied to it.
  *
  * Semantics replicate the composite BIT-EXACTLY (oracle parity —
  * q92's DuckDB oracle re-derives the same buckets):
  * tokens = split(lower(trim(text)), "\\s+") with Spark's lower/trim
  * (UTF8String simple case map; ASCII-space-only trim), empty tokens
  * dropped; features = tokens ++ adjacent bigrams ("w1 w2", only when
  * ≥2 tokens); bucket = pmod(first-8-sha256-hex-digits-as-int,
  * buckets) — the first 8 hex digits ARE the first 4 digest bytes
  * read big-endian, and that 32-bit value is non-negative, so pmod
  * degenerates to %. Null text → null (explode then emits no rows,
  * matching the composite's null propagation).
  */
case class HashedNgramFeatures(child: Expression, buckets: Long)
    extends UnaryExpression with ExpectsInputTypes {

  require(buckets >= 2, s"HashedNgramFeatures: buckets=$buckets")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "hashed_ngram_features"

  override protected def nullSafeEval(v: Any): Any =
    HashedNgramFeaturesKernel.compute(v.asInstanceOf[UTF8String], buckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.expr.HashedNgramFeaturesKernel$$.MODULE$$
        .compute($a, ${buckets}L);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[expr] object HashedNgramFeaturesKernel {

  def compute(v: UTF8String, buckets: Long): ArrayData = {
    // Spark-exact normalization, shared with MinHashSigKernel:
    // UTF8String lower (simple case map) + trim (ASCII space only),
    // then Java regex split keeping edge tokens
    val raw = Tok.sparkTokens(v)
    var n = 0
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) n += 1; i += 1 }
    val toks = new Array[String](n)
    i = 0; var j = 0
    while (i < raw.length) {
      if (raw(i).nonEmpty) { toks(j) = raw(i); j += 1 }
      i += 1
    }
    val m = if (n >= 2) 2 * n - 1 else n
    val out = new Array[Long](m)
    val md = Sha.sha256()
    i = 0
    while (i < n) { out(i) = bucketOf(toks(i), md, buckets); i += 1 }
    i = 0
    while (i < n - 1) {
      out(n + i) = bucketOf(toks(i) + " " + toks(i + 1), md, buckets)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** pmod(conv(substring(sha2(f,256),1,8),16,10), buckets) without the
    * hex/string detour: hex digits [0,8) of the digest are bytes
    * [0,4) big-endian; the 32-bit value is non-negative so pmod = %. */
  private def bucketOf(s: String, md: java.security.MessageDigest,
      buckets: Long): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    h % buckets
  }
}
