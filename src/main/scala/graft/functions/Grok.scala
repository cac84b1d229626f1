package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The parse stage: a vectorized regex battery over `text`, the Spark-first
  * re-expression of the reference's XML/errorlog parse kernel
  * (`pkg/xe/xe.go:125-252` and `:339-403`). Everything is a codegen'd
  * `Column` expression — no UDFs — so the whole battery fuses into one
  * WholeStageCodegen span over the parquet scan (SURVEY.md §4).
  */
object Grok {

  /** `Error:\s(\d+),\sSeverity:\s(\d+),\sState:\s(\d+)` — pkg/xe/xe.go:20 */
  val ErrorTriple = """Error: (\d+), Severity: (\d+), State: (\d+)"""

  /** `\[CLIENT: ([^][]*)]` — pkg/xe/xe.go:22 */
  val ClientAddr = """\[CLIENT: ([^\]\[]*)\]"""

  private def num(c: Column): Column = when(c === "", null).otherwise(c).cast("long")

  /** Extract a `key=value` numeric field (resource-usage fields,
    * xe_units analog — pkg/xe/xe_units.go:5-36). */
  def kvNum(text: Column, key: String): Column =
    num(regexp_extract(text, key + """=(\d+)""", 1))

  def kvStr(text: Column, key: String): Column = {
    val v = regexp_extract(text, key + """=([^ ]+)""", 1)
    when(v === "", null).otherwise(v)
  }

  /** Event-name envelope, the analog of the XML `<event name=...>` attr
    * (pkg/xe/xe.go:44, :175). */
  def eventName(text: Column): Column =
    regexp_extract(text, "^event=([a-z_0-9]+)", 1)

  /** Full parse projection: transcript turns → flat typed event columns —
    * the reference's `xe.Parse` equivalent (pkg/xe/xe.go:125-252), fused
    * into ONE `parse_turn` kernel scan per row (see [[FusedParse]]). The
    * two-projection split keeps CollapseProject from inlining the
    * expensive parse into each of the 23 field extractions. */
  def parse(turns: DataFrame): DataFrame = {
    val withP = turns.withColumn("_parsed", FusedParse.parsed(col("text")))
    val fieldCols = FusedParse.fields.map(f => col(s"_parsed.${f.name}").as(f.name))
    withP.select(turns.columns.map(col).toSeq ++ fieldCols: _*)
  }

  /** The original vectorized regexp_extract battery — kept as the parity
    * oracle for FusedParse (FusedParseSpec asserts field equality) and as
    * the reference implementation of the regex semantics. */
  def parseRegex(turns: DataFrame): DataFrame = {
    val t = col("text")
    val body = regexp_replace(t, "^event=[a-z_0-9]+ ", "")
    turns.withColumns(Map(
      "name"            -> eventName(t),
      "body"            -> body,
      "error_number"    -> num(regexp_extract(t, ErrorTriple, 1)),
      "severity_num"    -> num(regexp_extract(t, ErrorTriple, 2)),
      "state_num"       -> num(regexp_extract(t, ErrorTriple, 3)),
      "client_addr"     -> { val v = regexp_extract(t, ClientAddr, 1); when(v === "", null).otherwise(v) },
      "principal"       -> coalesce(kvStr(t, "principal"), { val v = regexp_extract(t, """user '([^']*)'""", 1); when(v === "", null).otherwise(v) }),
      "app_name"        -> kvStr(t, "app"),
      "host_name"       -> kvStr(t, "host"),
      "cpu_time"        -> kvNum(t, "cpu_time"),
      "duration"        -> kvNum(t, "duration"),
      "logical_reads"   -> kvNum(t, "logical_reads"),
      "physical_reads"  -> kvNum(t, "physical_reads"),
      "writes"          -> kvNum(t, "writes"),
      "row_count"       -> kvNum(t, "row_count"),
      "db_id"           -> kvNum(t, "db_id"),
      "signal_duration" -> kvNum(t, "signal_duration"),
      "session_id"      -> kvNum(t, "session_id"),
      "wait_type"       -> kvStr(t, "wait_type"),
      "batch_text"      -> { val v = regexp_extract(t, "batch_text=(.*)$", 1); when(v === "", null).otherwise(v) },
      // widened vocabulary (same unanchored kv semantics, new keys)
      "database_name"   -> kvStr(t, "database_name"),
      "object_name"     -> kvStr(t, "object_name"),
      "object_type"     -> kvStr(t, "object_type"),
      "file_name"       -> kvStr(t, "file_name"),
      "size_change_kb"  -> kvNum(t, "size_change_kb"),
      "component"       -> kvStr(t, "component"),
      "diag_state"      -> kvStr(t, "state"),
      "diag_data"       -> kvStr(t, "data"),
      "resource_description" -> kvStr(t, "resource_description"),
      "lock_mode"       -> kvStr(t, "lock_mode"),
      "resource_owner_type"  -> kvStr(t, "resource_owner_type"),
      "object_id"       -> kvNum(t, "object_id"),
      "ag_name"         -> kvStr(t, "ag"),
      "previous_state"  -> kvStr(t, "previous_state"),
      "current_state"   -> kvStr(t, "current_state"),
      "commit_policy"   -> kvStr(t, "commit_policy"),
      "commit_policy_target" -> kvStr(t, "commit_policy_target"),
      "sync_state"      -> kvStr(t, "sync_state"),
      "ddl_phase"       -> kvStr(t, "ddl_phase"),
      "statement"       -> { val v = regexp_extract(t, "statement=(.*)$", 1); when(v === "", null).otherwise(v) },
      "deadlock_xml"    -> { val v = regexp_extract(t, "xml=<deadlock>(.*)</deadlock>", 1); when(v === "", null).otherwise(v) },
      "blocked_xml"     -> { val v = regexp_extract(t, "xml=<blocked-process>(.*)</blocked-process>", 1); when(v === "", null).otherwise(v) },
      "is_system_raw"   -> kvStr(t, "is_system"),
      "cpu_pct_raw"     -> kvStr(t, "cpu_pct"),
      "plan_handle_raw" -> kvStr(t, "plan_handle"),
      "file_size_raw"   -> kvStr(t, "file_size"),
      // P2 action channel ('.' escaped: the kv key is a literal substring)
      "session_id_action" -> kvNum(t, "act\\.session_id"),
      "client_app_name"   -> kvStr(t, "act\\.client_app_name"),
      // final four description-arm inputs (attention / hadr_trace_message /
      // database_mirroring_state_change / sql_exit_invoked)
      "sql_text"          -> { val v = regexp_extract(t, "sql_text=(.*)$", 1); when(v === "", null).otherwise(v) },
      "hadr_message"      -> { val v = regexp_extract(t, "hadr_message=(.*)$", 1); when(v === "", null).otherwise(v) },
      "state_change_desc" -> kvStr(t, "state_change_desc"),
      "shutdown_option"   -> kvStr(t, "shutdown_option")
    ))
  }

  // ---- errorlog parse (pkg/xe/xe.go:339-403) -------------------------------

  /** Whitespace collapse `\s+` → " " (pkg/xe/xe.go:21,346). */
  def collapseWs(c: Column): Column = regexp_replace(c, """\s+""", " ")

  /** Errorlog line split: after `event=errorlog_written `, the line is
    * `DATE TIME PROCESS MESSAGE...`; process is lowered; for the `Logon`
    * process the repeated `DATE TIME ` prefix of the message is stripped
    * (pkg/xe/xe.go:382-398). Adds errorlog_process / errorlog_message /
    * errorlog_raw to errorlog_written rows (null elsewhere). */
  def parseErrorlog(parsed: DataFrame): DataFrame = {
    val isLog = col("name") === "errorlog_written"
    val raw = collapseWs(col("body"))
    val toks = split(raw, " ")
    val proc = lower(element_at(toks, 3))
    // message = tokens from 4 on
    val msg0 = array_join(slice(toks, 4, 1000000), " ")
    // Logon: strip the repeated timestamp (first two tokens of the message)
    val msgToks = split(msg0, " ")
    val msg = when(proc === "logon", array_join(slice(msgToks, 3, 1000000), " ")).otherwise(msg0)
    parsed.withColumns(Map(
      "errorlog_raw"     -> when(isLog, raw),
      "errorlog_process" -> when(isLog, proc),
      "errorlog_message" -> when(isLog, msg)
    ))
  }

  /** Codepoint left-truncate with "..." suffix; Spark substring counts
    * codepoints, matching the reference's rune semantics. Building block of
    * [[nfcLeft]] — use that for the full P7 contract. */
  def left(c: Column, n: Int): Column =
    when(length(c) > n, concat(substring(c, 1, n), lit("..."))).otherwise(c)

  /** NFC normalize-only UDF — the declarative reference path; production
    * uses the codegen'd [[Nfc.left]] kernel instead. */
  private lazy val nfcNormalize = udf((s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

  /** P7 in full (pkg/xe/xe.go:907-937): byte-length <= n passes through
    * unchanged; longer strings are NFC-normalized then codepoint-truncated.
    * Declarative reference of [[Nfc.left]] (equality via EnrichParitySpec
    * and the DuckDB nfc_normalize oracle). */
  def nfcLeft(c: Column, n: Int): Column =
    when(octet_length(c) <= n, c).otherwise(left(nfcNormalize(c), n))

  /** P3: zero-value handle skip — hex handles that are all zeros
    * (`0x0000...`) are dropped to null (pkg/xe/xe.go:157-165). */
  def zeroHandleToNull(c: Column): Column =
    when(regexp_replace(regexp_replace(c, "^0x", ""), "0", "") === "", null)
      .otherwise(c)
}
