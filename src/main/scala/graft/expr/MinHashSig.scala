package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-row MinHash signature — replaces the explode → sha256 →
  * groupBy-min pipeline with a single projection: each row tokenizes,
  * shingles, hashes and min-reduces locally, so the aggregation (and
  * its exchange) disappear from the plan entirely. At scan speed this
  * is the 100 TB shape: signature extraction becomes a map-only stage
  * feeding the LSH band join directly.
  *
  * Semantics replicate `NearDup.minhashSignaturesComposite` exactly:
  * tokens = split(lower(trim(text)), "\\s+") with Spark's lower/trim
  * (UTF8String simple case mapping; ASCII-space-only trim), word
  * `shingleSize`-grams joined by ' ', hash j = min over shingles of
  * hex-sha256 chars [12j, 12j+12) (lexicographic min on lowercase hex
  * = binary min). Rows with fewer than `shingleSize` tokens yield
  * NULL — the caller filters, mirroring the explode path's
  * `size(tokens) >= shingleSize` gate. Equivalence is spec-asserted
  * and oracle-checked (q13/q14 run this expression against DuckDB).
  */
case class MinHashSig(child: Expression, numHashes: Int, shingleSize: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(numHashes >= 1 && numHashes <= 5, "sha256 hex yields 5 12-char slices")
  require(shingleSize >= 1, "shingleSize must be positive")

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = StructType(
    (0 until numHashes).map(j => StructField(s"mh$j", StringType, nullable = false)))

  override def nullable: Boolean = true

  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(v: Any): Any =
    MinHashSigKernel.compute(v.asInstanceOf[UTF8String], numHashes, shingleSize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultTerm = ctx.freshName("mhRow")
    nullSafeCodeGen(ctx, ev, a => s"""
      InternalRow $resultTerm = graft.expr.MinHashSigKernel$$.MODULE$$
        .compute($a, $numHashes, $shingleSize);
      if ($resultTerm == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $resultTerm;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

private[expr] object MinHashSigKernel {

  private val hexDigits = "0123456789abcdef".toCharArray

  /** null ⇔ fewer than shingleSize tokens (caller filters, matching
    * the explode path's gate). */
  def compute(v: UTF8String, numHashes: Int, shingleSize: Int): InternalRow = {
    // Spark-exact normalization: UTF8String lower (simple case map),
    // trim (ASCII space only), then Java regex split keeping edge
    // tokens — identical to split(lower(trim(text)), "\s+")
    val toks = Tok.sparkTokens(v)
    val nShingles = toks.length - shingleSize + 1
    if (nShingles <= 0) return null
    val md = Sha.sha256() // thread-local: no per-row provider lookup
    val mins = new Array[String](numHashes)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      var k = 0
      while (k < shingleSize) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      val digest = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // hex encode lazily per 12-char slice: slice j covers hex chars
      // [12j, 12j+12) = digest bytes [6j, 6j+6)
      var j = 0
      while (j < numHashes) {
        val slice = hexSlice(digest, j)
        if (mins(j) == null || slice.compareTo(mins(j)) < 0) mins(j) = slice
        j += 1
      }
      i += 1
    }
    new GenericInternalRow(
      mins.map(m => UTF8String.fromString(m): Any))
  }

  private def hexSlice(digest: Array[Byte], j: Int): String = {
    val out = new Array[Char](12)
    var b = 0
    while (b < 6) {
      val x = digest(6 * j + b) & 0xFF
      out(2 * b) = hexDigits(x >>> 4)
      out(2 * b + 1) = hexDigits(x & 0xF)
      b += 1
    }
    new String(out)
  }
}
