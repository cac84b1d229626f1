package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType

/** Fused integer squared L2 distance — the long-array kernel of the
  * quantized ANN family: PQ codebook build / encode / ADC distance
  * tables ([[PQ.l2sq]], a crossJoin against the broadcast codebook, so
  * n×M×codebook evaluations) and the k-center selection rounds
  * ([[Centroids.kCenterSelect]], n×k per round). The declarative form
  * `aggregate(zip_with(a, b, (x, y) => (x − y) * (x − y)), 0L, +)` is a
  * higher-order-function tree Spark evaluates INTERPRETED with a
  * per-element lambda row, outside every whole-stage-codegen span — the
  * same cost shape [[VecDotExpr]] removed from the float plane.
  *
  * SEMANTICS CONTRACT — bit-identical to the aggregate/zip_with form
  * over two long arrays under this engine's pinned non-ANSI session:
  *  - per-element (x − y) * (x − y) and the running sum in Java long
  *    arithmetic, ASCENDING index order — non-ANSI Subtract/Multiply/Add
  *    on LongType wrap exactly like Java longs, so overflow agrees;
  *  - length mismatch ⇒ null (zip_with pads the short side with null,
  *    null terms poison the sum); any null element ⇒ null; empty arrays
  *    ⇒ 0; null array ⇒ null (the kernel's null-in, null-out rule).
  * VecSqDistParity in SimilaritySpec pins bit-equality against the
  * declarative form over quantized corpus pairs plus adversarial shapes;
  * the PQ/k-center oracle rows (q89/q90/q249) re-gate end-to-end.
  */
object VecSqDist {

  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Column form over two `array<long>` columns: `vec_sqdist(a, b)`. */
  def sqDistFused(a: Column, b: Column): Column =
    graft.functions.Kernel.call("vec_sqdist", this, "compute", LongType, Seq(a, b))
}
