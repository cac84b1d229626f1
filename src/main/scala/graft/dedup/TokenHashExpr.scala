package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CollationAwareUTF8String
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Kernel

/** Fused token-hash sketches: ONE pass over the text computes the 8
  * MinHash values, the 16-bit SimHash and the rolling fingerprint — the
  * dedup-stage sibling of FusedParse/FusedEnrich (tokenize → charwise
  * polynomial hash → 3-shingle → 8 affine minima / bit votes / fold).
  *
  * SEMANTICS CONTRACT: element-for-element identical to the declarative
  * chain in [[graft.text.TextAnalysis]] + [[Dedup]] — Spark `lower()`
  * ([[TokenHash.lower]]), Java `\s+` token splitting with empties
  * dropped, per-CODEPOINT polynomial fold, `array_min` of an empty
  * shingle array = null. TokenHashParitySpec asserts equality over the
  * corpus and adversarial strings; the DuckDB oracle re-checks q33/q35/
  * q36/q37 end-to-end.
  */
object TokenHash {
  val P = 1000000007L
  val NumHashes: Int = Dedup.NumHashes
  val SimBits: Int = Dedup.SimBits

  val outputSchema: StructType = StructType(
    (0 until NumHashes).map(i => StructField(s"mh$i", LongType)) ++ Seq(
      StructField("simhash", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))

  def sketches(text: Column): Column =
    Kernel.call("token_sketches", this, "compute", outputSchema, Seq(text))

  private def isWs(c: Char) = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Spark's `lower()` under its default ICU case mappings, which lowercase
    * a capital sigma by its word context differently from
    * `UTF8String.toLowerCase` (KernelParitySpec pins the equality). */
  def lower(input: UTF8String): String = CollationAwareUTF8String.toLowerCase(input).toString

  /** Token hashes: whitespace tokens of the LOWERED text, each folded
    * per codepoint as (acc*31 + cp) mod P starting at 7. */
  def tokHashes(lowered: String): Array[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    val n = lowered.length
    while (i < n) {
      while (i < n && isWs(lowered.charAt(i))) i += 1
      if (i < n) {
        var h = 7L
        while (i < n && !isWs(lowered.charAt(i))) {
          val cp = lowered.codePointAt(i)
          h = (h * 31L + cp) % P
          i += Character.charCount(cp)
        }
        buf += h
      }
    }
    buf.toArray
  }

  /** All sketches in one pass over the token-hash array. */
  def compute(input: UTF8String): InternalRow = {
    if (input == null) return null
    val th = tokHashes(lower(input))
    val n = th.length
    // minhash over 3-shingles; empty shingle set → nulls (array_min([]))
    val mins = Array.fill[java.lang.Long](NumHashes)(null)
    var j = 0
    while (j + 2 < n) {
      val s = ((th(j) * 31L + th(j + 1)) % P * 31L + th(j + 2)) % P
      var i = 0
      while (i < NumHashes) {
        val v = (s * (2L * i + 1L) + (7919L * i + 1L)) % P
        if (mins(i) == null || v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    // simhash bit votes + fingerprint fold over the token hashes
    val votes = new Array[Long](SimBits)
    var fp = 7L
    var k = 0
    while (k < n) {
      val x = th(k)
      var b = 0
      while (b < SimBits) {
        if (((x >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      fp = (fp * 131L + x) % P
      k += 1
    }
    var sim = 0L
    var b = 0
    while (b < SimBits) {
      if (votes(b) > 0) sim |= (1L << b)
      b += 1
    }
    InternalRow.fromSeq(mins.toSeq ++ Seq(sim, fp))
  }
}

/** Fused 3-shingle hash array — the raw-shingle sibling of [[TokenHash]]
  * for the consumers that need the shingle STREAM rather than its
  * sketches (boilerplate hotness, dup-span positions, decontamination,
  * Bloom prefilter, LSH candidate sets). One native pass replaces the
  * interpreted tokenize → per-token fold → triple slice → double
  * zip_with chain.
  *
  * SEMANTICS CONTRACT: element-for-element identical (same order, same
  * values) to [[Dedup.shingleHashesDeclarative]] — proven over the corpus
  * and adversarial strings in TokenHashParitySpec. */
object Shingles {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  def shingles(text: Column): Column = Kernel.call("shingle_hashes", this, "compute",
    ArrayType(LongType, containsNull = false), Seq(text))

  def compute(input: UTF8String): ArrayData = {
    val th = TokenHash.tokHashes(TokenHash.lower(input))
    val P = TokenHash.P
    val n = math.max(th.length - 2, 0)
    val out = new Array[Long](n)
    var j = 0
    while (j < n) {
      out(j) = ((th(j) * 31L + th(j + 1)) % P * 31L + th(j + 2)) % P
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused character-n-gram hash array — the char-level sibling of
  * [[Shingles]] for the n-gram Jaccard family ([[Dedup.charNgramHashes]]
  * consumers: q43/q55 n-gram near-dup). One native pass replaces the
  * interpreted lower → regex-collapse → per-CHAR split → per-window
  * aggregate-fold HOF tree, which the sf1 confidence run measured as the
  * slowest remaining kernel (~10 min for q55 at 50k docs — the per-char
  * lambda tree ran twice per doc side).
  *
  * SEMANTICS CONTRACT: element-for-element identical to the declarative
  * chain — Spark `lower()` ([[TokenHash.lower]]), `\s+` runs collapsed
  * to ONE space INCLUDING leading/trailing runs (regexp_replace, no
  * trim), per-CODEPOINT `ascii()` codes (Java regex split("") is
  * codepoint-aware), (acc*31 + cp) % P fold seeded at 7 over each
  * n-window, no distinct (callers array_distinct like the declarative).
  * CharNgramParitySpec proves equality over the corpus and adversarial
  * strings; the q55/q43 oracles re-check end-to-end in DuckDB. */
object CharNgrams {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

  def hashes(text: Column, n: Int): Column = Kernel.call("char_ngram_hashes", this,
    "compute", ArrayType(LongType, containsNull = false), Seq(text), Seq(n))

  private[dedup] def isWsChar(c: Char) = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private def isWs(c: Char) = isWsChar(c)

  def compute(input: UTF8String, n: Int): ArrayData = {
    val P = TokenHash.P
    val s = TokenHash.lower(input)
    // collapse \s+ runs to single ' ' (leading/trailing kept as a space)
    val len = s.length
    val norm = new java.lang.StringBuilder(len)
    var i = 0
    while (i < len) {
      val c = s.charAt(i)
      if (isWs(c)) {
        norm.append(' ')
        while (i < len && isWs(s.charAt(i))) i += 1
      } else { norm.append(c); i += 1 }
    }
    // codepoint array (split("") is codepoint-aware in Java regex)
    val ns = norm.toString
    val cps = new Array[Long](ns.codePointCount(0, ns.length))
    var ci = 0
    var k = 0
    while (ci < ns.length) {
      val cp = ns.codePointAt(ci)
      cps(k) = cp.toLong
      k += 1
      ci += Character.charCount(cp)
    }
    val m = cps.length
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m - n + 1)
    var st = 0
    while (st <= m - n) {
      var acc = 7L
      var j = 0
      while (j < n) { acc = (acc * 31L + cps(st + j)) % P; j += 1 }
      out(st) = acc
      st += 1
    }
    new GenericArrayData(out)
  }
}

/** CDC boundary statistics in ONE pass — the [[CharNgrams]] sibling for
  * content-defined chunking ([[graft.text.Packing.cdcStats]], q88):
  * normalized char count + count of rolling n-gram hashes ≡ 0
  * (mod modulus), computed without materializing the hash array (the
  * sf1 run measured the interpreted chain at 552 s). Same
  * normalization/fold semantics as [[CharNgrams]] (shared helpers);
  * parity proven in CharNgramParitySpec against the declarative form. */
object CdcBoundaries {
  val outputSchema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_boundaries", LongType, nullable = false)))

  def stats(text: Column, n: Int, modulus: Int): Column =
    Kernel.call("cdc_boundaries", this, "compute", outputSchema, Seq(text), Seq(n, modulus))

  def compute(input: UTF8String, n: Int, modulus: Int): InternalRow = {
    // ONE normalization walk: each emitted codepoint (a \s+ run collapses
    // to one ' '; Spark length() counts CODEPOINTS so n_chars == emitted
    // count) feeds an n-codepoint ring buffer; once the ring is full,
    // every position folds its window ((acc*31+cp) % P seeded at 7 — the
    // CharNgrams contract) and tests the boundary predicate. No codepoint
    // array, no hash array — O(n) stack-local state per row.
    val P = TokenHash.P
    val s = TokenHash.lower(input)
    val len = s.length
    val ring = new Array[Long](n)
    var idx = 0      // ring write position; after a write, oldest is at idx
    var filled = 0L  // emitted codepoint count == n_chars
    var b = 0L
    var i = 0
    while (i < len) {
      var cp = 0L
      if (CharNgrams.isWsChar(s.charAt(i))) {
        cp = ' '.toLong
        while (i < len && CharNgrams.isWsChar(s.charAt(i))) i += 1
      } else {
        val c = s.codePointAt(i)
        cp = c.toLong
        i += Character.charCount(c)
      }
      ring(idx) = cp
      idx += 1; if (idx == n) idx = 0
      filled += 1
      if (filled >= n) {
        var acc = 7L
        var j = 0
        while (j < n) {
          val pos = idx + j
          acc = (acc * 31L + ring(if (pos >= n) pos - n else pos)) % P
          j += 1
        }
        if (acc % modulus == 0L) b += 1
      }
    }
    InternalRow(filled, b)
  }
}
