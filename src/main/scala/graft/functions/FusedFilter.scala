package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.unsafe.types.UTF8String

/** Fused standard-filter predicate over RAW text — the whole
  * [[graft.operators.Filters.standardOnRaw]] decision (F1–F7 + the
  * default rule chain) in ONE kernel call per row. The declarative
  * conjunction evaluated the lite name scanner ~8× and the lite
  * error-number scanner 2× per row (one per conjunct — codegen
  * subexpression elimination does not span split filter conjuncts), and
  * that filter stage measured 0.54 s of the 2.0 s pipeline at sf0.1.
  *
  * SEMANTICS CONTRACT: decision-identical to the declarative stack —
  * same lite scanners ([[FusedParse.nameOf]]/[[FusedParse.errorNumberOf]]),
  * same `lower(text).contains` dbghelp test (UTF8String lowercase), and
  * the same last-match-wins fold of [[graft.operators.Filters.defaultRules]]
  * with `when`'s null-condition-is-false semantics. The declarative
  * predicate's NULL outcomes (e.g. an `error_reported` row whose triple
  * failed to parse) drop the row in a Filter exactly like FALSE, so the
  * boolean collapse is observation-identical; PlanSpec's
  * "pre-parse raw filter equals post-parse filter stack" test pins row
  * equality end-to-end, and FilterFusionSpec pins this kernel against
  * the retained declarative predicate row-for-row. */
object FusedFilter {

  /** `standard_filter_keep(text, role, tool)`: never null; the kernel
    * sees null arguments. */
  def keepStandard(text: Column, role: Column, tool: Column): Column =
    Kernel.call("standard_filter_keep", this, "keep", BooleanType, Seq(text, role, tool),
      nulls = Kernel.NotNull)

  /** The F1–F7 + default-chain decision. Null text → drop (matches the
    * declarative stack's null propagation into Filter). */
  def keep(text: UTF8String, role: UTF8String, tool: UTF8String): Boolean = {
    if (text == null) return false
    val t = text.toString
    val name = FusedParse.nameOf(t)
    if (name.isEmpty) return false                       // F7 wellFormed
    if (name == "connectivity_ring_buffer_recorded") return false // F1
    var enComputed = false
    var en: java.lang.Long = null
    def errNum(): java.lang.Long = {
      if (!enComputed) { en = FusedParse.errorNumberOf(t); enComputed = true }
      en
    }
    if (name == "error_reported") {                      // F3 (excl. 18330)
      val e = errNum()
      // declarative: !(name='error_reported' AND en=18330) is NULL when
      // en is NULL — a Filter drops NULL like FALSE
      if (e == null || e.longValue == 18330L) return false
    }
    if (name == "errorlog_written" &&                    // F4 dbghelp
        text.toLowerCase.toString.contains("using 'dbghelp.dll'"))
      return false
    // F5 last-match-wins default chain (rules folded outermost-last):
    // rule3: error_number=18456 AND role='system' -> exclude
    if (role != null && role.toString == "system") {
      val e = errNum()
      if (e != null && e.longValue == 18456L) return false
    }
    // rule2/rule1: wait_info excluded unless tool='sql_query'
    if (name == "wait_info")
      return tool != null && tool.toString == "sql_query"
    true
  }
}
