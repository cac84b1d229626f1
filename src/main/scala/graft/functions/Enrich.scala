package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Lookups

/** Enrichment stage: the ~15 derived `xe_*` fields computed inside the
  * reference's `Parse` (`pkg/xe/xe.go:194-251`), re-expressed as pure
  * `Column` expressions. The pipeline's constant dimensions (entity names,
  * error-id sets) are compiled into the expressions from `Lookups`'
  * driver-side rows, as the reference reads its once-loaded `SQLInfo` maps
  * per event: no join, exchange or broadcast job, so all of it stays inside
  * WholeStageCodegen at any scale.
  */
object Enrich {

  // ---- E1: severity (pkg/xe/xe.go:433-469, full arm set) --------------------
  /** error_reported sev>=11 (or missing, per the reference's !ok branch) →
    * 3 (err); errorlog Logon parse sev>=11 → 3; deadlocks → 3; waits /
    * blocked / non-yielding scheduler → 4 (warning); server diagnostics by
    * component state; else 6 (info). */
  def severityValue: Column =
    when(col("name") === "error_reported" &&
        (col("severity_num").isNull || col("severity_num") >= 11), 3)
      .when(col("name") === "errorlog_written" && col("severity_num") >= 11, 3)
      .when(col("name").isin("xml_deadlock_report", "lock_deadlock_chain"), 3)
      .when(col("name").isin("wait_info", "wait_info_external",
        "scheduler_monitor_non_yielding_ring_buffer_recorded",
        "blocked_process_report"), 4)
      .when(col("name") === "sp_server_diagnostics_component_result",
        when(col("diag_state") === "WARNING", 4)
          .when(col("diag_state") === "ERROR", 3)
          .otherwise(6))
      .otherwise(6)

  /** 3→"err", 4→"warning", 6→"info" (pkg/logstash/logstash.go:21-28). */
  def severityKeyword(sev: Column): Column =
    when(sev === 3, "err").when(sev === 4, "warning").otherwise("info")

  // ---- E2: category (pkg/xe/xe.go:473-489, all five groups) -----------------
  def category: Column =
    when(col("name").isin("sql_batch_completed", "rpc_completed",
      "sp_statement_completed", "sql_statement_completed"), "tsql")
      .when(col("name").isin("lock_deadlock_chain", "xml_deadlock_report"),
        "deadlock")
      .when(col("name").isin("hadr_db_partner_set_sync_state",
        "alwayson_ddl_executed", "availability_replica_manager_state_change",
        "availability_replica_state"), "hadr")
      .when(col("name").isin("agent_job", "agent_job_step"), "agent")
      .when(col("name").isin("wait_info", "wait_info_external"), "wait")
      .otherwise(col("name"))

  // ---- humanizers (pkg/xe/xe.go:939-984 roundDuration; :744-771 bytes) -----
  /** Duration pretty-print from microseconds: h+m / m+s / s / ms / us. */
  def humanDurationUs(us: Column): Column = {
    val s = (us / 1000000L).cast("long")
    when(us >= 3600L * 1000000L,
      concat((s / 3600L).cast("long"), lit("h"), ((s % 3600L) / 60L).cast("long"), lit("m")))
      .when(us >= 60L * 1000000L,
        concat((s / 60L).cast("long"), lit("m"), (s % 60L).cast("long"), lit("s")))
      .when(us >= 1000000L, concat(s, lit("s")))
      .when(us >= 1000L, concat((us / 1000L).cast("long"), lit("ms")))
      .otherwise(concat(us, lit("us")))
  }

  /** Pages (8 KB) → "N MB" when >=128 pages else "N KB"
    * (pkg/xe/xe.go:660-668 kbtombstring adaptation). */
  def pagesHuman(pages: Column): Column =
    when(pages >= 128L, concat((pages / 128L).cast("long"), lit(" MB")))
      .otherwise(concat(pages * 8L, lit(" KB")))

  /** Compressed resource-usage prefix (GetResourceUsageDesc,
    * pkg/xe/xe.go:735-781): "CPU: Xms; L: ...; P: ...; W: ...; D: ..." —
    * CPU/D whenever present, reads/writes only when > 0, null fields
    * skipped (concat_ws), "" when nothing is present. */
  def resourceUsage: Column = concat_ws("; ",
    when(col("cpu_time").isNotNull,
      concat(lit("CPU: "), (col("cpu_time") / 1000L).cast("long"), lit("ms"))),
    when(col("logical_reads") > 0, concat(lit("L: "), pagesHuman(col("logical_reads")))),
    when(col("physical_reads") > 0, concat(lit("P: "), pagesHuman(col("physical_reads")))),
    when(col("writes") > 0, concat(lit("W: "), pagesHuman(col("writes")))),
    when(col("duration").isNotNull, concat(lit("D: "), humanDurationUs(col("duration")))))

  /** "(usage) text..." — getSQLDescription (pkg/xe/xe.go:670-687): the
    * usage prefix only when non-empty, then the NFC-aware 300-codepoint
    * truncation (P7 in full). */
  def sqlDescOf(txt: Column): Column = {
    val ru = resourceUsage
    concat(when(ru === "", lit("")).otherwise(concat(lit("("), ru, lit(") "))),
      Grok.nfcLeft(txt, 300))
  }

  /** kbtombstring (pkg/xe/xe.go:659-668): KB unless an even MB multiple. */
  def kbHuman(kb: Column): Column =
    when(kb >= 1024L && kb % 1024L === 0L,
      concat((kb / 1024L).cast("long"), lit(" MB")))
      .otherwise(concat(kb, lit(" KB")))

  // ---- E3: description templates (pkg/xe/xe.go:492-656) --------------------
  def description: Column = {
    // concat (not concat_ws): a NULL principal must propagate to a NULL
    // description, matching the oracle's null-propagating `||`
    val loginDesc = concat(lit("Login: "), col("principal"),
      when(col("host_name").isNotNull, concat(lit(" from "), col("host_name"))).otherwise(lit("")),
      when(col("app_name").isNotNull, concat(lit(" using "), col("app_name"))).otherwise(lit("")))
    val errDesc = concat(lit("(Msg "), col("error_number"), lit(", Level "),
      col("severity_num"), lit(", State "), col("state_num"), lit(") "),
      Grok.nfcLeft(col("body"), 300))
    val waitDesc = concat(lit("("), humanDurationUs(col("duration")), lit(") "),
      col("wait_type"))
    def objDesc(verb: String) = concat(lit(verb + " "), col("database_name"),
      lit(".."), col("object_name"), lit(" ("), col("object_type"), lit(")"))
    val blockedDesc = {
      val ru = resourceUsage
      concat(when(ru === "", lit("")).otherwise(concat(lit("("), ru, lit(") "))),
        col("database_name"), lit(": ("), col("resource_owner_type"), lit("-"),
        col("lock_mode"), lit("["), col("object_id"), lit("])"))
    }
    val fileSizeDesc = concat_ws(" ",
      when(col("database_name").isNotNull, concat(lit("DB: "), col("database_name"))),
      when(col("file_name").isNotNull, concat(lit("File: "), col("file_name"))),
      when(col("size_change_kb").isNotNull, kbHuman(col("size_change_kb"))),
      when(col("duration").isNotNull,
        concat(lit("("), (col("duration") / 1000L).cast("long"), lit("ms)"))))
    when(col("name") === "login", loginDesc)
      .when(col("name") === "attention", sqlDescOf(col("sql_text")))
      .when(col("name") === "error_reported", errDesc)
      .when(col("name") === "sql_batch_completed", sqlDescOf(col("batch_text")))
      .when(col("name").isin("rpc_completed", "sp_statement_completed",
        "sql_statement_completed"), sqlDescOf(col("statement")))
      .when(col("name").isin("wait_info", "wait_info_external"), waitDesc)
      .when(col("name") === "errorlog_written", Grok.nfcLeft(col("errorlog_message"), 300))
      .when(col("name") === "object_altered", objDesc("ALTER"))
      .when(col("name") === "object_created", objDesc("CREATE"))
      .when(col("name") === "object_deleted", objDesc("DELETE"))
      .when(col("name") === "lock_deadlock_chain", col("resource_description"))
      .when(col("name") === "xml_deadlock_report", lit("xml_deadlock_report"))
      .when(col("name") === "hadr_db_partner_set_sync_state",
        concat(col("database_name"), lit(": "), col("commit_policy"), lit(" -> "),
          col("commit_policy_target"), lit(" ("), col("sync_state"), lit(")")))
      .when(col("name") === "blocked_process_report", blockedDesc)
      .when(col("name") === "alwayson_ddl_executed",
        concat(lit("("), col("ddl_phase"), lit(") "), col("statement")))
      .when(col("name") === "availability_replica_manager_state_change",
        concat(lit("state: "), col("current_state")))
      .when(col("name") === "availability_replica_state_change",
        concat(col("ag_name"), lit(": "), col("previous_state"), lit(" -> "),
          col("current_state")))
      .when(col("name") === "availability_replica_state",
        concat(col("ag_name"), lit(": "), col("current_state")))
      .when(col("name") === "hadr_trace_message", col("hadr_message"))
      .when(col("name") === "database_mirroring_state_change",
        concat(col("database_name"), lit(": "), col("state_change_desc")))
      .when(col("name") === "sql_exit_invoked", col("shutdown_option"))
      .when(col("name") === "sp_server_diagnostics_component_result",
        concat(lit("("), col("component"), lit(":"), col("diag_state"), lit(") "),
          col("diag_data")))
      .when(col("name") === "database_file_size_change", fileSizeDesc)
      .otherwise(Grok.nfcLeft(col("body"), 300))
  }

  // ---- typed-cast ladder (pkg/xe/xe.go:69-107): raw captures → native
  // types via Spark's own Cast (boolean / double / uint64-as-Decimal(20,0))
  // plus the binary "0x"+hex convention with the P3 zero-handle skip
  // (pkg/xe/xe.go:157-165). ---------------------------------------------------
  def withTypedFields(df: DataFrame): DataFrame = df
    .withColumn("is_system", col("is_system_raw").cast("boolean"))
    .withColumn("cpu_pct", col("cpu_pct_raw").cast("double"))
    .withColumn("file_size", col("file_size_raw").cast("decimal(20,0)"))
    .withColumn("plan_handle",
      Grok.zeroHandleToNull(concat(lit("0x"), col("plan_handle_raw"))))

  // ---- E4: xe_acct_app / xe_acct_app_client (pkg/xe/xe.go:865-898) ---------
  def acctApp: Column =
    when(col("principal").isNotNull && col("app_name").isNotNull,
      concat(col("principal"), lit(" - "), col("app_name")))
      .when(col("principal").isNotNull, col("principal"))
      .otherwise(col("app_name"))

  def acctAppClient: Column =
    when(col("host_name").isNotNull && acctApp.isNotNull,
      concat(acctApp, lit(" ("), col("host_name"), lit(")")))
      .otherwise(acctApp)

  // ---- E12: gated unit conversions (pkg/xe/xe_units.go:5-36) ---------------
  def withUnits(df: DataFrame): DataFrame = df.withColumns(Map(
    "duration_sec"     -> when(col("duration") >= 1000000L, (col("duration") / 1000000L).cast("long")),
    "cpu_time_sec"     -> when(col("cpu_time") >= 1000000L, (col("cpu_time") / 1000000L).cast("long")),
    "logical_reads_mb" -> when(col("logical_reads") >= 128L, (col("logical_reads") / 128L).cast("long")),
    "physical_reads_mb"-> when(col("physical_reads") >= 128L, (col("physical_reads") / 128L).cast("long")),
    "writes_mb"        -> when(col("writes") >= 128L, (col("writes") / 128L).cast("long"))
  ))

  // ---- E8/J2: as-of entity-name backfill (pkg/xe/xe.go:407-431) ------------
  /** As-of lookup as one CASE over the dim's [valid_from, next valid_from)
    * intervals, bounded by the `to_timestamp` literals the dim holds, so
    * `ts` compares as it would against the dim; nothing is joined. */
  def withEntityName(df: DataFrame): DataFrame = {
    val arms = Lookups.entityIntervals.map { case (id, name, from, to) =>
      val since = col("db_id") === id && col("ts") >= to_timestamp(lit(from))
      (to.fold(since)(t => since && col("ts") < to_timestamp(lit(t))), name)
    }
    df.withColumn("entity_name", arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (c, (cond, name)) => c.when(cond, name)
    })
  }

  // ---- E9/E10: semi-join flags as set membership (pkg/xe/xe.go:206-211,
  // :254-262); the optimizer turns the 72 logged ids into an InSet --------
  def withErrorFlags(df: DataFrame): DataFrame = df
    .withColumn("login_failed",
      coalesce(col("error_number").isin(Lookups.loginErrorIds: _*), lit(false)))
    .withColumn("xe_is_event_logged",
      coalesce(col("error_number").isin(Lookups.loggedErrorIds: _*), lit(false)))

  // ---- 18456 state description (pkg/xe/xe.go:288-337) ----------------------
  def stateDescription: Column = {
    val base = Lookups.state18456.foldLeft(lit(null).cast("string")) {
      case (acc, (st, desc)) => when(col("state_num") === st, desc).otherwise(acc)
    }
    when(col("error_number") === 18456, base)
  }

  // ---- E5-like tool enrichment: broadcast join on tool --------------------
  def withToolInfo(df: DataFrame, spark: SparkSession): DataFrame =
    df.join(broadcast(Lookups.toolInfo(spark)), Seq("tool"), "left")

  def withRoleSeverity(df: DataFrame, spark: SparkSession): DataFrame =
    df.join(broadcast(Lookups.roleSeverity(spark)), Seq("role"), "left")

  /** E6: ArrayType server constants — mssql_ag / mssql_ag_listener
    * (pkg/xe/xe.go:221-226): string arrays stamped on every event. */
  def withAgConstants(df: DataFrame,
                      ags: Seq[String] = Lookups.agGroups,
                      listeners: Seq[String] = Lookups.agListeners): DataFrame =
    df.withColumn("mssql_ag", array(ags.map(lit): _*))
      .withColumn("mssql_ag_listener", array(listeners.map(lit): _*))

  /** E10 description copy: a login-error event carries its full
    * description in `login_failed` (pkg/xe/xe.go:254-262 sets the desc
    * string, not just a flag). Requires xe_description + login_failed. */
  def withLoginFailedDesc(df: DataFrame): DataFrame =
    df.withColumn("login_failed_desc",
      when(col("login_failed"), col("xe_description")))

  /** The seven derived columns via ONE fused expression pass (severity,
    * keyword, category, description, acct_app ×2, 18456 state desc) — see
    * [[FusedEnrich]]; the declarative Columns above are the reference
    * implementation, equality-guarded by EnrichParitySpec. Two-step
    * projection on purpose: the struct is referenced 7×, and
    * CollapseProject must not inline the non-cheap expression per field. */
  def withDerived(df: DataFrame): DataFrame = {
    val withE = df.withColumn("_enr", FusedEnrich.derived)
    val lifted = FusedEnrich.outputSchema.fields.map(f =>
      col(s"_enr.${f.name}").as(f.name))
    withE.select(df.columns.map(col).toSeq ++ lifted: _*)
  }

  /** Declarative variant of withDerived — the parity-spec reference. */
  def withDerivedDeclarative(df: DataFrame): DataFrame =
    df.withColumn("xe_severity_value", severityValue)
      .withColumn("xe_severity_keyword", severityKeyword(col("xe_severity_value")))
      .withColumn("xe_category", category)
      .withColumn("xe_description", description)
      .withColumn("xe_acct_app", acctApp)
      .withColumn("xe_acct_app_client", acctAppClient)
      .withColumn("xe_state_description", stateDescription)

  /** Full enrichment pass over a parsed frame. */
  def enrich(parsed: DataFrame, spark: SparkSession): DataFrame =
    withLoginFailedDesc(withEntityName(withErrorFlags(withUnits(withDerived(parsed)))))
}
