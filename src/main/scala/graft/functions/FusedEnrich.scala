package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused enrichment: ONE [[Kernel]] call computing the seven derived
  * per-row fields (severity value/keyword, category, description, acct_app
  * ×2, 18456 state description) in a single pass — the enrich-stage
  * sibling of [[FusedParse]] and [[JsonDoc]].
  *
  * Motivation (measured on the sf0.1×50 bench corpus, local[32]): the
  * declarative `Enrich.description` when-chain costs ~2.2 s, the 26-arm
  * 18456 CASE ~1.0 s and the category chain ~0.9 s per pass — together
  * most of the enrichment stage. The fused switch rebuilds the same
  * strings with one StringBuilder per row.
  *
  * SEMANTICS CONTRACT: field-for-field identical to the declarative
  * Columns in [[Enrich]] (which stay as the reference implementation) —
  * including Spark's null propagation in concat, concat_ws null-skipping,
  * fractional division + truncating cast for every `/`, codepoint-based
  * 300-char truncation, and long-multiplication wrap in pagesHuman.
  * EnrichParitySpec asserts equality over the corpus and adversarial rows;
  * the DuckDB oracle re-checks every arm end-to-end.
  */
object FusedEnrich {

  /** Input struct layout — single source of truth for field indexes. */
  val inputCols: Seq[String] = Seq(
    "name", "principal", "host_name", "app_name",
    "error_number", "severity_num", "state_num", "body",
    "cpu_time", "logical_reads", "physical_reads", "writes", "duration",
    "wait_type", "batch_text", "statement", "errorlog_message",
    "database_name", "object_name", "object_type", "file_name",
    "size_change_kb", "resource_description", "lock_mode",
    "resource_owner_type", "object_id", "ag_name", "previous_state",
    "current_state", "commit_policy", "commit_policy_target", "sync_state",
    "ddl_phase", "component", "diag_state", "diag_data",
    "sql_text", "hadr_message", "state_change_desc", "shutdown_option")

  private val idx: Map[String, Int] = inputCols.zipWithIndex.toMap
  // field index constants
  private val iName = idx("name"); private val iPrincipal = idx("principal")
  private val iHost = idx("host_name"); private val iApp = idx("app_name")
  private val iEn = idx("error_number"); private val iSev = idx("severity_num")
  private val iSt = idx("state_num"); private val iBody = idx("body")
  private val iCpu = idx("cpu_time"); private val iLr = idx("logical_reads")
  private val iPr = idx("physical_reads"); private val iWr = idx("writes")
  private val iDur = idx("duration"); private val iWt = idx("wait_type")
  private val iBt = idx("batch_text"); private val iStmt = idx("statement")
  private val iLmsg = idx("errorlog_message"); private val iDb = idx("database_name")
  private val iObj = idx("object_name"); private val iObjType = idx("object_type")
  private val iFname = idx("file_name"); private val iSzKb = idx("size_change_kb")
  private val iRdesc = idx("resource_description"); private val iLmode = idx("lock_mode")
  private val iRoType = idx("resource_owner_type"); private val iObjId = idx("object_id")
  private val iAg = idx("ag_name"); private val iPState = idx("previous_state")
  private val iCState = idx("current_state"); private val iCPol = idx("commit_policy")
  private val iCPolT = idx("commit_policy_target"); private val iSState = idx("sync_state")
  private val iDdlPh = idx("ddl_phase"); private val iComp = idx("component")
  private val iDState = idx("diag_state"); private val iDData = idx("diag_data")
  private val iSqlText = idx("sql_text"); private val iHadrMsg = idx("hadr_message")
  private val iScDesc = idx("state_change_desc"); private val iShutOpt = idx("shutdown_option")

  val outputSchema: StructType = StructType(Seq(
    StructField("xe_severity_value", IntegerType, nullable = false),
    StructField("xe_severity_keyword", StringType, nullable = false),
    StructField("xe_category", StringType),
    StructField("xe_description", StringType),
    StructField("xe_acct_app", StringType),
    StructField("xe_acct_app_client", StringType),
    StructField("xe_state_description", StringType)))

  /** The fused column over an already-parsed frame. */
  def derived: Column = Kernel.call("fused_enrich", this, "evalRow", outputSchema,
    Seq(struct(inputCols.map(col): _*)))

  // 18456 state table compiled to a lookup map (same source list as the
  // declarative when-chain and the oracle CASE)
  private val state18456: Map[Long, String] =
    graft.sources.Lookups.state18456.map { case (s, d) => s.toLong -> d }.toMap

  // ---- helpers mirroring the declarative Column semantics -----------------

  /** Spark's `/` is fractional division; `.cast("long")` truncates. */
  private def divTrunc(x: Long, d: Long): Long = (x.toDouble / d).toLong

  /** Grok.nfcLeft / Nfc.nfcLeft: byte-gated NFC normalization + codepoint
    * truncation with "..." suffix (P7 in full, pkg/xe/xe.go:907-937). */
  def left300(s: String): String = Nfc.nfcLeft(s, 300)

  /** Enrich.humanDurationUs (µs → h+m / m+s / s / ms / us). */
  def humanDurUs(us: Long): String = {
    val s = divTrunc(us, 1000000L)
    if (us >= 3600L * 1000000L) s"${divTrunc(s, 3600L)}h${divTrunc(s % 3600L, 60L)}m"
    else if (us >= 60L * 1000000L) s"${divTrunc(s, 60L)}m${s % 60L}s"
    else if (us >= 1000000L) s"${s}s"
    else if (us >= 1000L) s"${divTrunc(us, 1000L)}ms"
    else s"${us}us"
  }

  /** Enrich.pagesHuman (pages*8L wraps like Spark long multiply). */
  def pagesHuman(pages: Long): String =
    if (pages >= 128L) s"${divTrunc(pages, 128L)} MB" else s"${pages * 8L} KB"

  /** Enrich.kbHuman. */
  def kbHuman(kb: Long): String =
    if (kb >= 1024L && kb % 1024L == 0L) s"${divTrunc(kb, 1024L)} MB"
    else s"$kb KB"

  /** Enrich.resourceUsage — concat_ws("; ", ...) null-skipping; "" when
    * nothing is present. Boxed inputs: null means absent. */
  def resourceUsage(cpu: java.lang.Long, lr: java.lang.Long,
                    pr: java.lang.Long, wr: java.lang.Long,
                    dur: java.lang.Long): String = {
    val sb = new java.lang.StringBuilder(48)
    def add(part: String): Unit = {
      if (sb.length > 0) sb.append("; ")
      sb.append(part)
    }
    if (cpu != null) add(s"CPU: ${divTrunc(cpu, 1000L)}ms")
    if (lr != null && lr > 0) add(s"L: ${pagesHuman(lr)}")
    if (pr != null && pr > 0) add(s"P: ${pagesHuman(pr)}")
    if (wr != null && wr > 0) add(s"W: ${pagesHuman(wr)}")
    if (dur != null) add(s"D: ${humanDurUs(dur)}")
    sb.toString
  }

  /** Enrich.sqlDescOf: "(usage) " prefix when non-empty + left300(txt);
    * null txt propagates to null (concat semantics). */
  private def sqlDesc(ru: String, txt: String): String = {
    if (txt == null) return null
    val t = left300(txt)
    if (ru.isEmpty) t else s"($ru) $t"
  }

  final case class Derived(
    sev: Int, keyword: String, category: String, description: String,
    acctApp: String, acctAppClient: String, stateDesc: String)

  // boxed getters: null when the struct slot is null
  private def gs(r: InternalRow, i: Int): String = {
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString
  }
  private def gl(r: InternalRow, i: Int): java.lang.Long =
    if (r.isNullAt(i)) null else java.lang.Long.valueOf(r.getLong(i))

  def compute(r: InternalRow): Derived = {
    val name = gs(r, iName)
    val p = gs(r, iPrincipal); val host = gs(r, iHost); val a = gs(r, iApp)
    val en = gl(r, iEn); val sevNum = gl(r, iSev); val st = gl(r, iSt)

    // ---- E1 severity ----
    val sev: Int = name match {
      case "error_reported" if sevNum == null || sevNum >= 11 => 3
      case "errorlog_written" if sevNum != null && sevNum >= 11 => 3
      case "xml_deadlock_report" | "lock_deadlock_chain" => 3
      case "wait_info" | "wait_info_external" |
           "scheduler_monitor_non_yielding_ring_buffer_recorded" |
           "blocked_process_report" => 4
      case "sp_server_diagnostics_component_result" =>
        gs(r, iDState) match {
          case "WARNING" => 4
          case "ERROR"   => 3
          case _         => 6
        }
      case _ => 6
    }
    val keyword = sev match {
      case 3 => "err"
      case 4 => "warning"
      case _ => "info"
    }

    // ---- E2 category ----
    val category: String = name match {
      case "sql_batch_completed" | "rpc_completed" |
           "sp_statement_completed" | "sql_statement_completed" => "tsql"
      case "lock_deadlock_chain" | "xml_deadlock_report" => "deadlock"
      case "hadr_db_partner_set_sync_state" | "alwayson_ddl_executed" |
           "availability_replica_manager_state_change" |
           "availability_replica_state" => "hadr"
      case "agent_job" | "agent_job_step" => "agent"
      case "wait_info" | "wait_info_external" => "wait"
      case n => n
    }

    // ---- E4 acct_app ----
    val acct: String =
      if (p != null && a != null) s"$p - $a" else if (p != null) p else a
    val acctClient: String =
      if (host != null && acct != null) s"$acct ($host)" else acct

    // ---- 18456 state description ----
    val stateDesc: String =
      if (en != null && en == 18456L && st != null)
        state18456.getOrElse(st.longValue(), null)
      else null

    // ---- E3 description ----
    // multi-field helper: any null input → null output (concat semantics)
    def cat(parts: Any*): String = {
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < parts.length) {
        val v = parts(i)
        if (v == null) return null
        sb.append(v.toString)
        i += 1
      }
      sb.toString
    }
    lazy val ru = resourceUsage(gl(r, iCpu), gl(r, iLr), gl(r, iPr),
      gl(r, iWr), gl(r, iDur))
    val description: String = name match {
      case "login" =>
        if (p == null) null
        else {
          val sb = new java.lang.StringBuilder(48)
          sb.append("Login: ").append(p)
          if (host != null) sb.append(" from ").append(host)
          if (a != null) sb.append(" using ").append(a)
          sb.toString
        }
      case "attention" => sqlDesc(ru, gs(r, iSqlText))
      case "error_reported" =>
        cat("(Msg ", en, ", Level ", sevNum, ", State ", st, ") ",
          left300(gs(r, iBody)))
      case "sql_batch_completed" => sqlDesc(ru, gs(r, iBt))
      case "rpc_completed" | "sp_statement_completed" |
           "sql_statement_completed" => sqlDesc(ru, gs(r, iStmt))
      case "wait_info" | "wait_info_external" =>
        val dur = gl(r, iDur)
        if (dur == null) null
        else cat("(", humanDurUs(dur), ") ", gs(r, iWt))
      case "errorlog_written" => left300(gs(r, iLmsg))
      case "object_altered" =>
        cat("ALTER ", gs(r, iDb), "..", gs(r, iObj), " (", gs(r, iObjType), ")")
      case "object_created" =>
        cat("CREATE ", gs(r, iDb), "..", gs(r, iObj), " (", gs(r, iObjType), ")")
      case "object_deleted" =>
        cat("DELETE ", gs(r, iDb), "..", gs(r, iObj), " (", gs(r, iObjType), ")")
      case "lock_deadlock_chain" => gs(r, iRdesc)
      case "xml_deadlock_report" => "xml_deadlock_report"
      case "hadr_db_partner_set_sync_state" =>
        cat(gs(r, iDb), ": ", gs(r, iCPol), " -> ", gs(r, iCPolT), " (",
          gs(r, iSState), ")")
      case "blocked_process_report" =>
        val tail = cat(gs(r, iDb), ": (", gs(r, iRoType), "-", gs(r, iLmode),
          "[", gl(r, iObjId), "])")
        if (tail == null) null
        else if (ru.isEmpty) tail else s"($ru) $tail"
      case "alwayson_ddl_executed" =>
        cat("(", gs(r, iDdlPh), ") ", gs(r, iStmt))
      case "availability_replica_manager_state_change" =>
        cat("state: ", gs(r, iCState))
      case "availability_replica_state_change" =>
        cat(gs(r, iAg), ": ", gs(r, iPState), " -> ", gs(r, iCState))
      case "availability_replica_state" =>
        cat(gs(r, iAg), ": ", gs(r, iCState))
      case "hadr_trace_message" => gs(r, iHadrMsg)
      case "database_mirroring_state_change" =>
        cat(gs(r, iDb), ": ", gs(r, iScDesc))
      case "sql_exit_invoked" => gs(r, iShutOpt)
      case "sp_server_diagnostics_component_result" =>
        cat("(", gs(r, iComp), ":", gs(r, iDState), ") ", gs(r, iDData))
      case "database_file_size_change" =>
        // concat_ws(" ", ...): null parts skipped, never null overall
        val sb = new java.lang.StringBuilder(48)
        def add(part: String): Unit = {
          if (part != null) {
            if (sb.length > 0) sb.append(' ')
            sb.append(part)
          }
        }
        val db = gs(r, iDb); val fn = gs(r, iFname)
        val kb = gl(r, iSzKb); val dur = gl(r, iDur)
        add(if (db != null) s"DB: $db" else null)
        add(if (fn != null) s"File: $fn" else null)
        add(if (kb != null) kbHuman(kb) else null)
        add(if (dur != null) s"(${divTrunc(dur, 1000L)}ms)" else null)
        sb.toString
      case _ => left300(gs(r, iBody))
    }

    Derived(sev, keyword, category, description, acct, acctClient, stateDesc)
  }

  /** The `fused_enrich` kernel ([[Kernel]]): parsed-field struct →
    * derived-enrichment struct, one switch per row. */
  def evalRow(row: InternalRow): InternalRow = {
    if (row == null) return null
    val d = compute(row)
    def s(v: String) = if (v == null) null else UTF8String.fromString(v)
    InternalRow(d.sev, s(d.keyword), s(d.category), s(d.description),
      s(d.acctApp), s(d.acctAppClient), s(d.stateDesc))
  }
}
