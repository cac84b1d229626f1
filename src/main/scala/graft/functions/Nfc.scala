package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** P7 unicode-safe truncation WITH NFC normalization — the full semantics
  * of the reference's `left` (pkg/xe/xe.go:907-937): a string whose UTF-8
  * byte length is <= n passes through untouched (the hot-path gate — at
  * 100 TB almost every value takes this branch and never pays the
  * normalizer); a longer string is NFC-normalized first, then truncated to
  * n CODEPOINTS with a "..." suffix only when the normalized form still
  * exceeds n. Note the reference returns the NORMALIZED string even when
  * no truncation happens — we preserve that.
  *
  * Spark has no built-in NFC function, so the production path is the
  * `nfc_left` [[Kernel]], whose codegen emits a direct static call to
  * [[Nfc.eval]] — no UDF barrier, stays inside whole-stage codegen. The
  * declarative reference implementation is [[Grok.nfcLeft]] (built-ins +
  * a normalize-only UDF); the DuckDB oracle re-implements the same
  * definition via `nfc_normalize` (see Oracle.oNfcLeft).
  */
object Nfc {

  /** Plain-String implementation (used by FusedEnrich and tests). */
  def nfcLeft(s: String, n: Int): String = {
    if (s == null) return null
    if (utf8Length(s) <= n) return s
    truncateNfc(s, n)
  }

  /** UTF-8 byte length, definitionally identical to Spark's octet_length. */
  def utf8Length(s: String): Int = UTF8String.fromString(s).numBytes

  private def truncateNfc(s: String, n: Int): String = {
    val t = Normalizer.normalize(s, Normalizer.Form.NFC)
    val cp = t.codePointCount(0, t.length)
    if (cp > n) t.substring(0, t.offsetByCodePoints(0, n)) + "..." else t
  }

  /** Static codegen entry: the byte gate reads numBytes off the UTF8String
    * directly, so the common short-string case never copies to a String. */
  def eval(u: UTF8String, n: Int): UTF8String = {
    if (u == null) return null
    if (u.numBytes <= n) return u
    UTF8String.fromString(truncateNfc(u.toString, n))
  }

  /** `nfc_left(c, n)` — the production path; nullable only when `c` is. */
  def left(c: Column, n: Int): Column =
    Kernel.call("nfc_left", this, "eval", StringType, Seq(c), Seq(n), Kernel.ArgNullable)
}
