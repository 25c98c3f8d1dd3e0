package graft.expr

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row SimHash fingerprint — replaces the explode →
  * per-token sha2 → chunked-conv decode → `bits` vote-sum aggregate
  * pipeline (NearDup.simhashComposite) with a single projection: each
  * row tokenizes, hashes and votes locally, so the per-token explode
  * AND the groupBy exchange disappear from the plan. Same fusion
  * pattern as MinHashSig/HashedNgramFeatures; fingerprinting becomes
  * a map-only stage feeding the Hamming band join directly — the
  * 100 TB shape.
  *
  * Semantics replicate the composite BIT-EXACTLY (q15/q65/q86's
  * DuckDB oracles re-derive the same construction): tokens =
  * split(lower(trim(text)), "\\s+") with Spark's lower/trim
  * (UTF8String simple case map; ASCII-space-only trim), empty tokens
  * KEPT (the composite explodes unfiltered — sha256("") votes);
  * per token the first bits/4 sha256 hex digits read big-endian form
  * the token hash; bit i of the fingerprint is set iff the sum over
  * tokens of (2·bit_i − 1) is strictly positive (ties → 0). Null
  * text → null (the caller filters, mirroring the composite's
  * explode dropping the doc).
  *
  * Contract (same as the composite's practical use): ids unique per
  * row — the composite's groupBy would merge duplicate ids' token
  * streams into one fingerprint, this projection cannot.
  */
case class SimHashFp(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(bits % 4 == 0 && bits >= 4 && bits <= 64,
    s"SimHashFp: bits must be a multiple of 4 in [4,64], got $bits")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_fp"

  override protected def nullSafeEval(v: Any): Any =
    SimHashFpKernel.compute(v.asInstanceOf[UTF8String], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"""
      ${ev.value} = graft.expr.SimHashFpKernel$$.MODULE$$.compute($a, $bits);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[expr] object SimHashFpKernel {

  def compute(v: UTF8String, bits: Int): Long = {
    // Spark-exact normalization, shared with MinHashSigKernel — and
    // NO empty-token filter: split of a blank string yields [""] and
    // the composite lets it vote
    val toks = Tok.sparkTokens(v)
    val counts = new Array[Int](bits)
    val md = Sha.sha256()
    val nNibs = bits / 4
    var t = 0
    while (t < toks.length) {
      val d = md.digest(toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first nNibs hex digits big-endian == high nibble first
      var full = 0L
      var j = 0
      while (j < nNibs) {
        val b = d(j >> 1) & 0xFF
        val nib = if ((j & 1) == 0) b >>> 4 else b & 0xF
        full = (full << 4) | nib
        j += 1
      }
      var i = 0
      while (i < bits) {
        counts(i) += (if (((full >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      t += 1
    }
    var out = 0L
    var i = 0
    while (i < bits) {
      if (counts(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }
}
