package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused winnowing selection: ONE native pass over the text computes the
  * gram count and the distinct winnowed fingerprint set — the MOSS
  * sampling kernel under [[Dedup.winnowStats]]. The declarative form
  * ([[Dedup.winnowSelectDeclarative]]) is an interpreted
  * `aggregate`-inside-`transform` tree (O(n·w) argmin re-walked per
  * window, no codegen); this pass is a monotonic-deque sliding minimum —
  * O(n) total, inside whole-stage codegen as a static call (the
  * `winnow_stats` [[graft.functions.Kernel]]).
  *
  * SEMANTICS CONTRACT: identical output to the declarative chain —
  * same tokenization + 3-shingle hashes ([[Shingles]], proven in
  * TokenHashParitySpec), rightmost-minimum tie rule per window
  * (`v <= best` keeps the later position; the deque pops `>=` from the
  * back so the surviving front IS the rightmost min), whole-array
  * window for 0 < n < w, empty fps for n = 0, value set deduplicated in
  * first-occurrence order. WinnowParitySpec asserts row equality over
  * the corpus and adversarial strings; the q254 oracle re-checks the
  * census end-to-end in DuckDB.
  */
object Winnow {
  val outputSchema: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("fps", ArrayType(LongType, containsNull = false),
      nullable = false)))

  def stats(text: Column, w: Int): Column =
    graft.functions.Kernel.call("winnow_stats", this, "compute", outputSchema, Seq(text),
      Seq(w))

  /** n_grams + distinct winnowed fps in one pass. `w` must be ≥ 1. */
  def compute(input: UTF8String, w: Int): InternalRow = {
    val th = TokenHash.tokHashes(TokenHash.lower(input))
    val P = TokenHash.P
    val n = math.max(th.length - 2, 0)
    val sh = new Array[Long](n)
    var j = 0
    while (j < n) {
      sh(j) = ((th(j) * 31L + th(j + 1)) % P * 31L + th(j + 2)) % P
      j += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    if (n > 0 && n < w) {
      // single whole-array window: the min VALUE (tie rule only moves
      // the position, never the value)
      var mn = sh(0)
      var i = 1
      while (i < n) { if (sh(i) < mn) mn = sh(i); i += 1 }
      out += mn
      seen.add(mn)
    } else if (n >= w) {
      // monotonic deque of positions with strictly increasing values
      // front→back; front = rightmost min of the current window
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0 // exclusive
      var i = 0
      while (i < n) {
        while (tail > head && sh(dq(tail - 1)) >= sh(i)) tail -= 1
        dq(tail) = i
        tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) {
          val v = sh(dq(head))
          if (seen.add(v)) out += v
        }
        i += 1
      }
    }
    InternalRow(n.toLong, new GenericArrayData(out.toArray))
  }
}
