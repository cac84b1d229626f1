package graft.text

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Fused log-template rebuild: ONE native pass over the turn text maps
  * each whitespace token to itself (head-vocabulary hit) or `<*>`
  * (miss) and re-joins — the rebuild kernel under
  * [[graft.operators.DqRules.logTemplates]]. The head vocabulary is a
  * BROADCAST set (≤ corpus_tokens / minCount entries by Zipf — an
  * aggregate, not a corpus), a constant parameter of the `log_template`
  * [[graft.functions.Kernel]], so the rebuild is map-only: no
  * second full-token exchange, no per-turn collect_list + sort. The
  * only shuffle left in the rebuild plan is the final template census
  * hash-agg (asserted in PlanSpec; the declarative reference's
  * token-granularity exchange was the #1 bench cost).
  *
  * SEMANTICS CONTRACT: identical to the declarative
  * posexplode → broadcast-left-join → collect_list reassembly
  * ([[graft.operators.DqRules.logTemplatesDeclarative]]) — Java `\s+`
  * token split with empties dropped, raw (non-lowered) token match,
  * single-space re-join, zero-token turns excluded (null template).
  * TemplateParitySpec asserts census equality; the q259 oracle
  * re-checks end-to-end in DuckDB.
  */
object LogTemplate {
  def rebuild(text: Column, keep: Broadcast[java.util.HashSet[String]]): Column =
    graft.functions.Kernel.call("log_template", this, "compute", StringType, Seq(text),
      Seq(keep))

  private def isWs(c: Char) = // Java regex \s
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Template string, or null when the text has zero tokens. */
  def compute(input: UTF8String, keepBc: Broadcast[java.util.HashSet[String]]): UTF8String = {
    val keep = keepBc.value
    val s = input.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var any = false
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      if (i < n) {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        if (any) sb.append(' ')
        val tok = s.substring(start, i)
        if (keep.contains(tok)) sb.append(tok) else sb.append("<*>")
        any = true
      }
    }
    if (!any) null else UTF8String.fromString(sb.toString)
  }
}
