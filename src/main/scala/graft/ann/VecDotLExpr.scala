package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Fused long-array dot product — the integer sibling of [[VecDotExpr]]
  * for the sign-matrix family: [[RandomProjection.project]] evaluates
  * outDim (16) of these per ROW against constant ±1 sign arrays, and
  * [[RandomProjection.jlDistortion]] another outDim per sampled pair —
  * as `aggregate(zip_with(...))` trees that ran interpreted with
  * ~outDim·dim lambda rows per input row, outside every codegen span.
  *
  * SEMANTICS CONTRACT — bit-identical to
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0L, +)` over two long
  * arrays under the pinned non-ANSI session: products and the running
  * sum in Java long arithmetic (wrap-around matches non-ANSI
  * Multiply/Add), ASCENDING index order; length mismatch ⇒ null
  * (zip_with null padding poisons the sum); any null element ⇒ null;
  * empty ⇒ 0; null array ⇒ null. VecDotLParity in SimilaritySpec pins
  * equality; q85/q269/q158/q168 re-gate end-to-end.
  */
object VecDotL {

  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }

  /** Column form over two `array<long>` columns: `vec_dot_l(a, b)`. */
  def dotFused(a: Column, b: Column): Column =
    graft.functions.Kernel.call("vec_dot_l", this, "compute", LongType, Seq(a, b))
}
