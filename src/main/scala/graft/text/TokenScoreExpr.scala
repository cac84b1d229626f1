package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused classifier scoring: ONE native pass over the text computes the
  * token count and the summed per-token weight — the inference kernel
  * under [[Classifier.score]], [[CorpusOps.qualityDeciles]] and
  * [[CorpusOps.qualityZ]]. The declarative chain (interpreted
  * higher-order `aggregate` over the token-hash array) re-walks the array
  * object per row; this stays inside whole-stage codegen as a static
  * call, the FusedParse/TokenHash convention.
  *
  * SEMANTICS CONTRACT: identical to `size(tokHashes(text))` and
  * `aggregate(tokHashes(text), 0, acc + (h % 2001 − 1000))` — same
  * tokenization ([[graft.dedup.TokenHash.tokHashes]], proven against the
  * declarative tokenizer in TokenHashParitySpec), same weight function.
  * ScoreParitySpec asserts equality over the corpus and adversarial
  * strings; the q91/q115/q202 oracles re-check end-to-end in DuckDB.
  */
object TokenScore {
  val outputSchema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("score_sum", LongType, nullable = false)))

  def scoreStruct(text: Column): Column =
    graft.functions.Kernel.call("token_score", this, "compute", outputSchema, Seq(text))

  def compute(input: UTF8String): InternalRow = {
    val th = graft.dedup.TokenHash.tokHashes(graft.dedup.TokenHash.lower(input))
    var s = 0L
    var i = 0
    while (i < th.length) {
      s += th(i) % 2001L - 1000L
      i += 1
    }
    InternalRow(th.length.toLong, s)
  }
}
