package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.DoubleType

/** Fused quantized cosine — the ANN-stage sibling of [[graft.dedup.TokenHash]]: one
  * tight primitive loop computes dot, |a|² and |b|² over the int8 (long)
  * component arrays, replacing three higher-order-function chains
  * (zip_with + 2×transform + 3×aggregate) that evaluate interpreted with
  * per-element lambda allocation.
  *
  * SEMANTICS CONTRACT: bit-identical to the declarative
  * [[Quantize.qcos]] — long products/sums (associative, exact for
  * dim·127² ≪ 2⁶³), one final double division by the product of double
  * sqrts; null, like the declarative form, for a length mismatch
  * (zip_with pads with null), a null element, or a zero denominator
  * (non-ANSI division by zero). QCosParity test in CurationSpec asserts
  * equality over the corpus, KernelParitySpec over adversarial arrays;
  * q65/q72 re-gate the end-to-end results against DuckDB.
  */
object QCos {

  def compute(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0L
    var na = 0L
    var nb = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getLong(i)
      val y = b.getLong(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)
    if (denom == 0.0) null else dot.toDouble / denom
  }

  /** Column form of the fused kernel: `quantized_cosine(a, b)`. */
  def qcosFused(a: Column, b: Column): Column =
    graft.functions.Kernel.call("quantized_cosine", this, "compute", DoubleType, Seq(a, b))
}
