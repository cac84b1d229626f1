package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Fused float/double dot product — the full-precision sibling of
  * [[QCos]] and THE inner kernel of the ANN family: every cosine in
  * [[Similarity]] (brute/bucketed/IVF/near-dup/semantic-dedup) bottoms
  * out here. The declarative form (`aggregate(zip_with(a, b, …))`) is a
  * higher-order-function tree, which Spark evaluates INTERPRETED with a
  * per-element lambda row — outside every whole-stage-codegen span. One
  * static-call loop replaces it (the [[QCos]] pattern), keeping the
  * surrounding operators inside codegen.
  *
  * SEMANTICS CONTRACT — bit-identical to
  * `aggregate(zip_with(a, b, (x, y) => x.double * y.double), 0.0, +)`:
  *  - products and the running sum in double, ASCENDING index order
  *    (same fold order ⇒ same rounding ⇒ same bits);
  *  - length mismatch ⇒ null (zip_with pads the short side with null,
  *    null products poison the sum);
  *  - any null element ⇒ null; empty arrays ⇒ 0.0; null array ⇒ null
  *    (BinaryExpression null-intolerance, same as the aggregate form).
  * Element types may be float or double independently per side (the
  * embedding column is float; LSH planes and retrained centroids are
  * double). VecDotParity in SimilaritySpec asserts equality against the
  * declarative form over the corpus plus adversarial shapes; the ANN
  * oracle battery re-gates end-to-end.
  */
object VecDot {

  def compute(a: ArrayData, b: ArrayData, leftFloat: Boolean,
              rightFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** Column form; resolves element types at plan time. */
  def dotFused(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(VecDotExpr(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  }
}

case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"
  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left), isFloat(right))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("vecDotRes")
      s"""java.lang.Double $r = graft.ann.VecDot.compute(
         |  $a, $b, ${isFloat(left)}, ${isFloat(right)});
         |if ($r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
}
