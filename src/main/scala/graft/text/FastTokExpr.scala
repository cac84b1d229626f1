package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Kernel

/** Fused whitespace tokenizers — the array-producing siblings of
  * [[TokenScore]]/[[graft.dedup.TokenHash]] for the ~30 call sites that
  * consume the token ARRAY itself (string tokens or per-token hashes)
  * rather than a finished sketch. The declarative chain
  * `filter(split(lower(text), "\\s+"), _ =!= "")` re-compiles the regex
  * and allocates a Java String[] per row, and the per-token
  * `aggregate(...)` hash fold is an interpreted higher-order expression;
  * one native pass replaces both.
  *
  * SEMANTICS CONTRACT (FastTokSpec): element-for-element identical to
  * [[TextAnalysis.tokensDeclarative]] / [[TextAnalysis.tokHashesDeclarative]]
  * — Spark `lower()` ([[graft.dedup.TokenHash.lower]]), Java-regex `\s` separators
  * (space, tab, newline, vtab, ff, cr), empties dropped, per-CODEPOINT
  * polynomial fold (acc*31 + cp) mod P seeded at 7. The token walk is the
  * SAME loop [[graft.dedup.TokenHash.tokHashes]] already pins in
  * TokenHashParitySpec; the raw (case-preserving) variant covers the
  * `split(text, "\\s+")` sites (term bursts, log templates, FIM).
  */
object FastTok {

  private def isWs(c: Char) = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Lowered whitespace tokens — fused twin of
    * [[TextAnalysis.tokensDeclarative]]. */
  def tokens(text: Column): Column = tokenArray(text, lower = true)

  /** Case-preserving whitespace tokens — fused twin of
    * `filter(split(text, "\\s+"), _ =!= "")`. */
  def rawTokens(text: Column): Column = tokenArray(text, lower = false)

  private def tokenArray(text: Column, lower: Boolean): Column =
    Kernel.call("fast_tokens", this, "computeTokens",
      ArrayType(StringType, containsNull = false), Seq(text), Seq(lower))

  /** Token-hash array — fused twin of [[TextAnalysis.tokHashesDeclarative]]
    * (the [[graft.dedup.TokenHash.tokHashes]] loop, parity-pinned). */
  def tokHashes(text: Column): Column = Kernel.call("fast_tok_hashes", this,
    "computeHashes", ArrayType(LongType, containsNull = false), Seq(text))

  def computeTokens(input: UTF8String, lower: Boolean): ArrayData = {
    val s = if (lower) graft.dedup.TokenHash.lower(input) else input.toString
    val n = s.length
    val buf = scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        buf += UTF8String.fromString(s.substring(start, i))
      }
    }
    new GenericArrayData(buf.toArray[Any])
  }

  def computeHashes(input: UTF8String): ArrayData =
    new GenericArrayData(
      graft.dedup.TokenHash.tokHashes(graft.dedup.TokenHash.lower(input)))

  /** BPE-ish pre-tokenizer count — fused twin of
    * `size(regexp_extract_all(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]", 0))`
    * ([[TextAnalysis.BpePattern]]): one native walk counting letter runs,
    * digit runs, and single non-alnum-non-ws CODEPOINTS (Java regex `.`
    * class matches per codepoint, so a surrogate pair is one match). */
  def bpeCount(text: Column): Column =
    Kernel.call("bpe_count", this, "computeBpeCount", IntegerType, Seq(text))

  def computeBpeCount(input: UTF8String): Int = {
    val s = input.toString
    val n = s.length
    var i = 0
    var cnt = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) {
        cnt += 1
        while (i < n && { val d = s.charAt(i)
          (d >= 'A' && d <= 'Z') || (d >= 'a' && d <= 'z') }) i += 1
      } else if (c >= '0' && c <= '9') {
        cnt += 1
        while (i < n && { val d = s.charAt(i); d >= '0' && d <= '9' }) i += 1
      } else if (isWs(c)) {
        i += 1
      } else {
        cnt += 1
        i += Character.charCount(s.codePointAt(i))
      }
    }
    cnt
  }
}

/** Fused |A ∩ B| over two string arrays — value-identical to
  * `size(array_intersect(a, b))` (distinct common elements; parity in
  * FastTokSpec incl. duplicate/empty/unicode shapes) without
  * materializing the intersection ARRAY per row. The reword-retries
  * adjacency pass evaluates this once per turn pair at corpus scale. */
object ArrIntersectSize {
  import org.apache.spark.sql.catalyst.util.ArrayData

  def of(a: Column, b: Column): Column =
    Kernel.call("arr_intersect_size", this, "compute", LongType, Seq(a, b))

  def compute(a: ArrayData, b: ArrayData): Long = {
    val nb = b.numElements()
    val setB = new java.util.HashSet[UTF8String](nb * 2 + 16)
    var i = 0
    while (i < nb) { setB.add(b.getUTF8String(i)); i += 1 }
    val na = a.numElements()
    val seen = new java.util.HashSet[UTF8String](16)
    var c = 0L
    var j = 0
    while (j < na) {
      val e = a.getUTF8String(j)
      if (setB.contains(e) && seen.add(e)) c += 1
      j += 1
    }
    c
  }
}
