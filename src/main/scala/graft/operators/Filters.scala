package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The filter stage (`pkg/app/process_session.go:117-269`): the ordered
  * include/exclude rule chain plus the fixed predicates, all folded into
  * plain Catalyst predicates so they are pushed/pruned by stock rules.
  */
object Filters {

  /** F1: case-insensitive event-name blacklist
    * (process_session.go:200-203; utilities.go:93-101). */
  def excludeEvents(names: Seq[String]): Column =
    if (names.isEmpty) lit(true)
    else !lower(col("name")).isin(names.map(_.toLowerCase): _*)

  /** F2: start_at / stop_at range (process_session.go:205-217). The
    * reference "break"s the scan at stop_at; under Spark ordering-free
    * scan semantics it is an identical-output predicate (SURVEY.md §7.4.4). */
  def tsRange(startAt: Option[java.sql.Timestamp], stopAt: Option[java.sql.Timestamp]): Column = {
    val lo = startAt.map(col("ts") >= lit(_)).getOrElse(lit(true))
    val hi = stopAt.map(col("ts") <= lit(_)).getOrElse(lit(true))
    lo && hi
  }

  /** F3: drop error_reported #17830 (process_session.go:219-225); our
    * corpus analog drops a configurable error number. */
  def excludeErrorNumber(n: Long): Column =
    !(col("name") === "error_reported" && col("error_number") === n)

  /** F4: dbghelp.dll suppression (process_session.go:227-233). */
  def dbghelpSuppression: Column =
    !(col("name") === "errorlog_written" &&
      lower(col("text")).contains("using 'dbghelp.dll'"))

  /** One rule of the ordered filter chain: all fields must match
    * (config_struct.go:144; process_session.go:240-269). */
  final case class FilterRule(action: String, conditions: Map[String, Any])

  /** F5: last-match-wins fold. Later rules are folded outermost, so the
    * last matching rule decides — exactly the reference's semantics where
    * every rule is evaluated and the final match's action sticks.
    * `field` resolves rule field names to Columns (default: by name). */
  def filterChain(rules: Seq[FilterRule], default: String = "include",
                  field: String => Column = col): Column = {
    val action = rules.foldLeft(lit(default)) { (acc, r) =>
      val cond = r.conditions.map { case (f, v) => field(f) === lit(v) }
        .reduce(_ && _)
      when(cond, lit(r.action)).otherwise(acc)
    }
    action === "include"
  }

  /** The canonical config fixture used by tests and the verify queries
    * (FIXTURES.md §3): exclude waits, re-include waits from sql_query,
    * exclude system-role 18456s. */
  val defaultRules: Seq[FilterRule] = Seq(
    FilterRule("exclude", Map("name" -> "wait_info")),
    FilterRule("include", Map("name" -> "wait_info", "tool" -> "sql_query")),
    FilterRule("exclude", Map("error_number" -> 18456L, "role" -> "system"))
  )

  /** F7: bad-input tolerance — a row whose text doesn't parse to an event
    * name is skipped, not fatal (`pkg/app/process_session.go:183-193`).
    * The parse stage yields name='' for malformed text; this drops it. */
  def wellFormed: Column = col("name").isNotNull && col("name") =!= ""

  /** Dead-letter export — the rows [[wellFormed]] silently drops, kept
    * instead: the quarantine frame an operator repairs or replays from
    * (the reference only counts these, `process_session.go:183-193`; at
    * pipeline scale you also need the ROWS, with lineage, or the data is
    * gone). Carries the original text plus src_file/src_offset so a fixed
    * parser can re-run exactly the quarantined slice. Reasons: whitespace
    * or null text → `empty_text`; anything else unnameable → `unparsed`.
    * Map-only: the standard filter's complement on the same lite parse. */
  def deadLetter(parsed: DataFrame): DataFrame =
    parsed.filter(!wellFormed)
      .select(col("conv_id"), col("turn_idx"), col("src_file"),
        col("src_offset"), deadLetterReason, col("text"))

  /** [[deadLetter]] on RAW text via the lite name scanner — the streaming
    * placement: quarantining must not pay the 51-field parse for rows that
    * by definition don't parse. */
  def deadLetterRaw(raw: DataFrame): DataFrame = {
    val name = graft.functions.FusedParse.nameLite(col("text"))
    raw.filter(name.isNull || name === "")
      .select(col("conv_id"), col("turn_idx"), col("src_file"),
        col("src_offset"), deadLetterReason, col("text"))
  }

  private def deadLetterReason: Column =
    when(col("text").isNull || trim(col("text")) === "", "empty_text")
      .otherwise("unparsed").as("reason")

  /** Quarantine TRIAGE — cluster [[deadLetter]] rows by failure TEMPLATE
    * (digit runs collapsed, case folded — the turn-template convention)
    * so a million mangled rows read as a handful of failure modes with
    * counts and blast radius (distinct source files). This is what turns
    * a dead-letter dump into a parser work queue: fix the top template,
    * replay its stratum.
    *
    * Shape: the quarantine sliver (already tiny by definition) reduces
    * through ONE hash-agg keyed on the 128-bit template hash; the
    * template string rides as a constant-per-group payload. */
  def deadLetterTemplates(parsed: DataFrame, minRows: Long = 2L): DataFrame =
    deadLetter(parsed)
      .select(col("reason"), col("src_file"),
        regexp_replace(lower(coalesce(col("text"), lit(""))), "[0-9]+", "0")
          .as("tmpl"))
      .withColumn("tkey", md5(col("tmpl").cast("binary")))
      .groupBy("reason", "tkey")
      .agg(min("tmpl").as("template"), count(lit(1)).as("n_rows"),
        countDistinct("src_file").as("n_files"))
      .filter(col("n_rows") >= minRows)
      .select("reason", "template", "n_rows", "n_files")

  /** F8: duplicate-source suppression — when the same source is registered
    * twice (the reference refuses duplicate FQDNs at config load,
    * `pkg/config/config.go` dupe guard; at scale the analog is the same
    * file landing via two paths), keep one row per (src_file, src_offset).
    * Ties are identical rows, so the ordered row_number pick is stable. */
  def dedupeSources(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("src_file", "src_offset")
      .orderBy("conv_id", "turn_idx")
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** The full standard predicate stack applied over a PARSED frame. */
  def standard(df: DataFrame): DataFrame =
    df.filter(
      wellFormed &&
        excludeEvents(Seq("connectivity_ring_buffer_recorded")) &&
        excludeErrorNumber(18330L) &&
        dbghelpSuppression &&
        filterChain(defaultRules))

  /** The same predicate stack evaluated on RAW text — the production
    * pre-parse placement. The predicates use the cheap name/error-number
    * lite expressions instead of the full-parse columns: predicate
    * pushdown would otherwise substitute the 51-field `parse_turn` into
    * every predicate below the parse projection (measured: the filter
    * stage cost 3× the parse itself). Semantics are identical — the lite
    * extractions are the same scanners (FilterPlacementSpec asserts row
    * equality with the post-parse stack). */
  def standardOnRaw(df: DataFrame): DataFrame =
    // round-6: the whole decision fused into ONE kernel call per row
    // ([[graft.functions.FusedFilter]]) — the conjunction below ran the
    // lite name scanner once per conjunct (~8×/row). Decision-identical
    // (FilterFusionSpec pins row equality against the declarative stack;
    // PlanSpec's placement test re-pins it against the post-parse stack).
    df.filter(graft.functions.FusedFilter.keepStandard(
      col("text"), col("role"), col("tool")))

  /** Declarative reference for [[standardOnRaw]] — the semantics
    * contract the fused predicate is proven against. */
  def standardOnRawDeclarative(df: DataFrame): DataFrame = {
    import graft.functions.FusedParse
    val name = FusedParse.nameLite(col("text"))
    val en = FusedParse.errorNumLite(col("text"))
    val field: String => Column = {
      case "name"         => name
      case "error_number" => en
      case other          => col(other)
    }
    df.filter(
      (name.isNotNull && name =!= "") &&
        !lower(name).isin("connectivity_ring_buffer_recorded") &&
        !(name === "error_reported" && en === 18330L) &&
        !(name === "errorlog_written" &&
          lower(col("text")).contains("using 'dbghelp.dll'")) &&
        filterChain(defaultRules, field = field))
  }
}
