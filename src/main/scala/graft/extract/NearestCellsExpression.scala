package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native `nearest_cells(v)` — the top-`w` IVF codebook cells for a vector,
  * ascending by (negated cosine score, cell id), as one expression over a
  * primitive `double[][]` centroid matrix held driver-side.
  *
  * Replaces the `slice(sort_array(array(struct(-dot(v,c_0),0), ...,
  * struct(-dot(v,c_{n-1}),n-1))), 1, w)` formulation (over `Similarity
  * .cellStructs`), which was measured at ~284us/row for a 64-cell x 64-dim
  * codebook: the struct-array tree allocates nCells `GenericInternalRow`s
  * per row and `sort_array`'s interpreted struct comparator re-boxes every
  * comparison, all for an output of which only the first `w` elements are
  * ever consumed. Here the same arithmetic runs as a primitive FMA loop
  * with a bounded insertion into two scratch arrays of length `w` —
  * O(nCells·dim) multiply-adds dominate and nothing is allocated until the
  * final w-element result.
  *
  * Bit-parity contract with the replaced form (the ANN oracle rows —
  * `sim_ann_ivf`, `dedup_embedding*` — depend on it):
  *  - centroids are L2-normalized driver-side with the identical arithmetic
  *    (`c / sqrt(sum c_i^2)`, no zero-vector guard, same as `cellStructs`);
  *  - the per-cell score is the strict left-to-right fold
  *    `((0 + v0*c0) + v1*c1) + ...` — same accumulation order as
  *    `DotProductExpression`, so scores are bit-identical;
  *  - ordering matches Spark's struct ordering over (negd, cell): doubles
  *    compare with -0.0 == 0.0 and NaN greater than +Infinity
  *    (`SQLOrderingUtil.compareDoubles` semantics), ties break toward the
  *    lowest cell id; the emitted negd field keeps the raw sign bit.
  *
  * Null semantics: NULL input, a NULL element, or a length mismatch vs the
  * codebook dimension yields NULL (the replaced form produced structs with
  * NULL scores in those cases; callers only `explode`/`getItem(0)` the
  * result, and none of them feeds malformed vectors — documented
  * simplification, exercised nowhere).
  *
  * CodegenFallback is the right trade here (same call as
  * CdcChunksExpression): the nCells·dim FMA loop is compiled Scala and
  * dominates the single interpreted dispatch per row; a doGenCode variant
  * would save one virtual call per row, not per cell.
  *
  * Holds `cn`/`cellIds` as constructor data (not child literals) so the
  * plan carries one reference instead of nCells·dim literal nodes — the
  * plan-bloat half of the literal-codebook caveat flagged in VERDICT r4.
  */
case class NearestCellsExpression(
    child: Expression,
    cn: Array[Array[Double]],
    cellIds: Array[Int],
    w: Int
) extends UnaryExpression
    with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t =>
      TypeCheckResult.TypeCheckFailure(
        s"nearest_cells requires array<double>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("negd", DoubleType, nullable = true),
      StructField("cell", IntegerType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = true

  // -0.0 == 0.0, NaN greater than everything (Spark SQL double ordering)
  @inline private def lessThan(d1: Double, c1: Int, d2: Double, c2: Int): Boolean = {
    val a = if (d1 == 0.0) 0.0 else d1
    val b = if (d2 == 0.0) 0.0 else d2
    val cmp = java.lang.Double.compare(a, b)
    cmp < 0 || (cmp == 0 && c1 < c2)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = cn(0).length
    if (v.numElements() != dim) return null
    var p = 0
    while (p < dim) { if (v.isNullAt(p)) return null; p += 1 }
    val vv = v.toDoubleArray()
    val nCells = cn.length
    val bestD = new Array[Double](w)
    val bestC = new Array[Int](w)
    var filled = 0
    var ci = 0
    while (ci < nCells) {
      val c = cn(ci)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += vv(i) * c(i); i += 1 }
      val negd = -acc
      val cell = cellIds(ci)
      if (filled < w) {
        var pos = filled
        while (pos > 0 && lessThan(negd, cell, bestD(pos - 1), bestC(pos - 1))) {
          bestD(pos) = bestD(pos - 1); bestC(pos) = bestC(pos - 1); pos -= 1
        }
        bestD(pos) = negd; bestC(pos) = cell
        filled += 1
      } else if (lessThan(negd, cell, bestD(w - 1), bestC(w - 1))) {
        var pos = w - 1
        while (pos > 0 && lessThan(negd, cell, bestD(pos - 1), bestC(pos - 1))) {
          bestD(pos) = bestD(pos - 1); bestC(pos) = bestC(pos - 1); pos -= 1
        }
        bestD(pos) = negd; bestC(pos) = cell
      }
      ci += 1
    }
    val out = new Array[Any](filled)
    var j = 0
    while (j < filled) { out(j) = InternalRow(bestD(j), bestC(j)); j += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "nearest_cells"
}

object NearestCellsExpression {

  /** Top-`w` (negd, cell) structs for `v` against the codebook `cents`
    * ((cell id, raw centroid) pairs), ascending — element 0 is the argmin
    * cell. Normalization happens here, once, driver-side. */
  def nearestCells(v: Column, cents: Seq[(Int, Seq[Double])], w: Int): Column = {
    require(cents.nonEmpty, "nearest_cells needs a non-empty codebook")
    val cn = cents.map { case (_, c) =>
      val nrm = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / nrm).toArray
    }.toArray
    val ids = cents.map(_._1).toArray
    GraftColumnBridge.column(
      NearestCellsExpression(
        GraftColumnBridge.expression(v),
        cn,
        ids,
        math.min(math.max(w, 1), cents.size)))
  }
}
