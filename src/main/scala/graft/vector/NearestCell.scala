package graft.vector

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Nearest-centroid cell id as a native Catalyst expression — the
  * assignment kernel of the IVF / SemDeDup family, flat or two-level.
  * A Scala UDF here deserializes every embedding to a boxed
  * `Seq[Float]` per row; this stays inside whole-stage codegen and
  * reads floats straight off the unsafe array, with the centroid
  * tables attached as codegen reference objects (broadcast once per
  * executor with the plan, no per-row cost).
  *
  * Semantics are IDENTICAL to the UDF it replaces (oracle-critical):
  * squared-L2 in double precision accumulated in index order, argmin
  * scanned in ascending centroid id with strict `<` (first-wins =
  * smaller id on ties). `coarse == null` → flat scan of all `fine`
  * centroids; otherwise route via the nearest coarse centroid, then
  * scan only `members(g)` (ascending fine ids). Null input → null.
  */
case class NearestCell(child: Expression, fine: Array[Array[Float]],
    coarse: Array[Array[Float]], members: Array[Array[Int]])
    extends UnaryExpression with ExpectsInputTypes {

  require(fine != null && fine.nonEmpty, "NearestCell: no centroids")
  require((coarse == null) == (members == null),
    "NearestCell: coarse and members must be both set (two-level) or both null (flat)")

  override def inputTypes = Seq(ArrayType(FloatType))

  override def dataType: DataType = IntegerType

  override def prettyName: String =
    if (coarse == null) "nearest_cell" else "nearest_cell_2l"

  override protected def nullSafeEval(a: Any): Any =
    NearestCell.assign(a.asInstanceOf[ArrayData], fine, coarse, members)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val fineRef = ctx.addReferenceObj("fineCents", fine, "float[][]")
      val coarseRef =
        if (coarse == null) "(float[][]) null"
        else ctx.addReferenceObj("coarseCents", coarse, "float[][]")
      val membersRef =
        if (members == null) "(int[][]) null"
        else ctx.addReferenceObj("cellMembers", members, "int[][]")
      // explicit MODULE$ call — companion static forwarders are not
      // guaranteed on case-class companions
      s"${ev.value} = graft.vector.NearestCell$$.MODULE$$.assign($a, $fineRef, $coarseRef, $membersRef);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCell {

  /** Static kernel shared by interpreted eval and generated code. */
  private[vector] def assign(v: ArrayData, fine: Array[Array[Float]],
      coarse: Array[Array[Float]], members: Array[Array[Int]]): Int =
    if (coarse == null) scan(v, fine, null)
    else scan(v, fine, members(scan(v, coarse, null)))

  private def scan(v: ArrayData, cents: Array[Array[Float]],
      idx: Array[Int]): Int = {
    val m = if (idx == null) cents.length else idx.length
    val len = v.numElements()
    var best = -1
    var bestD = Double.MaxValue
    var j = 0
    while (j < m) {
      val cid = if (idx == null) j else idx(j)
      val c = cents(cid)
      val n = math.min(len, c.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val t = v.getFloat(i).toDouble - c(i).toDouble
        d += t * t
        i += 1
      }
      if (d < bestD) { bestD = d; best = cid }
      j += 1
    }
    best
  }
}
