package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dimension snapshots — the analog of the reference's `SQLInfo` lookup
  * caches fetched once per connection (`pkg/xe/sqlinfo.go:13-34`, loaded
  * at `:79-211`). Each dim exists twice: as driver-side rows (engine side —
  * a DataFrame builder, or the constants the pipeline's lookups compile
  * into expressions) and as a DuckDB-compatible SQL snippet (oracle side) —
  * tiny, deterministic, kept in sync by LookupsSpec.
  */
object Lookups {

  // ---- tool_info: analog of server properties / version map
  // (pkg/xe/sqlinfo.go:79-127) -----------------------------------------------
  val toolInfoRows: Seq[(String, String, String, String)] = Seq(
    ("sql_query",   "dbteam",   "16.0", "query"),
    ("file_search", "fsteam",   "2.1",  "search"),
    ("web_fetch",   "webteam",  "5.4",  "io"),
    ("code_run",    "exec",     "1.0",  "compute"),
    ("calculator",  "mathteam", "0.9",  "compute")
  )
  def toolInfo(spark: SparkSession): DataFrame = {
    import spark.implicits._
    toolInfoRows.toDF("tool", "vendor", "version", "tool_category")
  }
  val toolInfoSql: String =
    "SELECT * FROM (VALUES " + toolInfoRows.map { case (t, v, ver, c) =>
      s"('$t','$v','$ver','$c')"
    }.mkString(", ") + ") AS tool_info(tool, vendor, version, tool_category)"

  // ---- J7: release → marketing-name map (pkg/xe/sqlinfo.go:103-127,
  // "16.0" → "SQL Server 2022" analog over tool versions) --------------------
  val versionNameRows: Seq[(String, String)] = Seq(
    ("16.0", "Toolset 2022"),
    ("5.4",  "Toolset 5"),
    ("2.1",  "Toolset 2"),
    ("1.0",  "Toolset 1"),
    ("0.9",  "Toolset Legacy")
  )
  def versionNames(spark: SparkSession): DataFrame = {
    import spark.implicits._
    versionNameRows.toDF("version", "version_name")
  }
  val versionNamesSql: String =
    "SELECT * FROM (VALUES " + versionNameRows.map { case (v, n) =>
      s"('$v','$n')"
    }.mkString(", ") + ") AS vn(version, version_name)"

  // ---- role_severity: severity floor per role (xe.go:433-469 seed) ---------
  val roleSeverityRows: Seq[(String, Int)] =
    Seq(("user", 6), ("assistant", 6), ("tool", 4), ("system", 3))
  def roleSeverity(spark: SparkSession): DataFrame = {
    import spark.implicits._
    roleSeverityRows.toDF("role", "role_severity")
  }
  val roleSeveritySql: String =
    "SELECT * FROM (VALUES " + roleSeverityRows.map { case (r, s) => s"('$r',$s)" }
      .mkString(", ") + ") AS role_severity(role, role_severity)"

  // ---- entity_names: as-of dimension, the databases id→(name, create_date)
  // analog (pkg/xe/sqlinfo.go:296-321; as-of guard pkg/xe/xe.go:407-431).
  // Each entity has versions; validity = [valid_from, next valid_from).
  val entityNameRows: Seq[(Long, String, String)] = (1L to 8L).flatMap { id =>
    Seq(
      (id, s"db_${id}_v1", "2024-01-01 00:00:00"),
      (id, s"db_${id}_v2", s"2024-0${(id % 6) + 2}-15 00:00:00")
    )
  }
  def entityNames(spark: SparkSession): DataFrame = {
    import spark.implicits._
    entityNameRows.toDF("entity_id", "name", "valid_from_s")
      .withColumn("valid_from", to_timestamp(col("valid_from_s")))
      .drop("valid_from_s")
  }
  /** `(entity_id, name, valid_from, next valid_from)`, the last version
    * open-ended; the `yyyy-MM-dd HH:mm:ss` strings sort as time. */
  val entityIntervals: Seq[(Long, String, String, Option[String])] =
    entityNameRows.map { case (id, name, from) =>
      (id, name, from, entityNameRows.collect { case (`id`, _, f) if f > from => f }.minOption)
    }
  val entityNamesSql: String =
    "SELECT entity_id, name, CAST(valid_from_s AS TIMESTAMP) AS valid_from FROM (VALUES " +
      entityNameRows.map { case (i, n, v) => s"($i,'$n','$v')" }.mkString(", ") +
      ") AS e(entity_id, name, valid_from_s)"

  // ---- login_error_ids: `%login failed%` semi-join set
  // (pkg/xe/sqlinfo.go:244-270) ----------------------------------------------
  val loginErrorIds: Seq[Long] = Seq(18456L, 18401L, 18452L, 18470L, 17892L)
  val loginErrorsSql: String =
    "SELECT * FROM (VALUES " + loginErrorIds.map(i => s"($i)").mkString(", ") +
      ") AS l(error_number)"

  // ---- logged_error_ids: is_event_logged set (~1300 ids in the reference,
  // pkg/xe/sqlinfo.go:272-294); here: ids in [18000,18500) with id%7==3 ------
  val loggedErrorIds: Seq[Long] = (18000L until 18500L).filter(_ % 7 == 3)
  val loggedErrorsSql: String =
    "SELECT 18000 + i AS error_number FROM range(500) t(i) WHERE (18000 + i) % 7 = 3"

  // ---- E6: ArrayType constants — the mssql_ag / mssql_ag_listener analog
  // (pkg/xe/xe.go:221-226): server-level string arrays stamped on every
  // event, plus a per-tool alias list so an array-valued DIM is exercised.
  val agGroups: Seq[String] = Seq("ag_0", "ag_1", "ag_2")
  val agListeners: Seq[String] = Seq("lsnr_a", "lsnr_b")
  val toolAliasRows: Seq[(String, Seq[String])] = Seq(
    ("sql_query",   Seq("sq", "query")),
    ("file_search", Seq("fs", "find", "grep")),
    ("web_fetch",   Seq("http")),
    ("code_run",    Seq("exec", "run")),
    ("calculator",  Seq("calc"))
  )
  def toolAliases(spark: SparkSession): DataFrame = {
    import spark.implicits._
    toolAliasRows.toDF("tool", "aliases")
  }
  val toolAliasesSql: String =
    "SELECT * FROM (VALUES " + toolAliasRows.map { case (t, as) =>
      s"('$t', [${as.map(a => s"'$a'").mkString(", ")}])"
    }.mkString(", ") + ") AS ta(tool, aliases)"

  // ---- sink_index_map: elastic event→index routing with default
  // (pkg/sink/sink_elastic.go:122-126; config_struct.go:111-112) -------------
  val sinkIndexRows: Seq[(String, String)] = Seq(
    ("error_reported",      "idx-errors"),
    ("login",               "idx-auth"),
    ("sql_batch_completed", "idx-sql")
  )
  val defaultIndex = "idx-default"
  def sinkIndexMap(spark: SparkSession): DataFrame = {
    import spark.implicits._
    sinkIndexRows.toDF("name", "sink_index")
  }
  val sinkIndexSql: String =
    "SELECT * FROM (VALUES " + sinkIndexRows.map { case (n, i) => s"('$n','$i')" }
      .mkString(", ") + ") AS s(name, sink_index)"

  /** L3 — catalog scans ordered by name (the reference ORDER BYs each
    * catalog list cosmetically on load: pkg/xe/sqlinfo.go:137,200,206).
    * The sort is materialized as a per-dim `pos` rank so the driver's
    * order-insensitive hash compare verifies the ORDERING itself, not
    * just membership (the q09/W1 rank-column trick). Aggregate-sized by
    * construction — six tiny broadcast-scale dims, one window each. */
  def catalogSorted(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dims = Seq(
      "tool_info"      -> toolInfo(spark).select(col("tool").as("name")),
      "version_names"  -> versionNames(spark).select(col("version").as("name")),
      "role_severity"  -> roleSeverity(spark).select(col("role").as("name")),
      "entity_names"   -> entityNames(spark).select(col("name")),
      "sink_index_map" -> sinkIndexMap(spark).select(col("name")),
      "tool_aliases"   -> toolAliases(spark).select(col("tool").as("name")))
    dims.map { case (dim, df) => df.withColumn("dim", lit(dim)) }
      .reduce(_ unionByName _)
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("dim")).orderBy(col("name"))).cast("long"))
      .select("dim", "name", "pos")
  }

  /** 18456 state → description table, the FULL reference arm set
    * (pkg/xe/xe.go:288-337, quoting the public MSSQL 18456 error docs);
    * kept as ordered pairs so the Spark `when` chain and the oracle CASE
    * expression are generated from one list. */
  val state18456: Seq[(Int, String)] = {
    val s11 = "Login is valid, but server access failed. One possible cause " +
      "of this error is when the Windows user has access to SQL Server as a " +
      "member of the local administrators' group, but Windows isn't " +
      "providing administrator credentials. To connect, start the " +
      "connecting program using the Run as administrator option, and then " +
      "add the Windows user to SQL Server as a specific login."
    val s58 = "When SQL Server is set to use Windows Authentication only, " +
      "and a client attempts to log in using SQL authentication. Another " +
      "cause is when SIDs don't match."
    val s62 = "Occurs when a Windows Authentication account tries to access " +
      "a contained database, and the contained database exists, but the " +
      "SIDs do not match"
    Seq(2, 5).map(_ -> "User ID isn't valid") ++ Seq(
      6  -> "An attempt was made to use a Windows login name with SQL Server Authentication",
      7  -> "Login is disabled, and the password is incorrect",
      8  -> "The password is incorrect",
      9  -> "Password isn't valid",
      11 -> s11,
      12 -> "Login is valid login, but server access failed",
      18 -> "Password must be changed") ++
      Seq(38, 46).map(_ -> "Couldn't find database requested by user") ++ Seq(
      58 -> s58,
      62 -> s62) ++
      (102 to 111).map(_ -> "Azure AD failure") ++
      (122 to 124).map(_ -> "Failure due to empty user name or password") ++ Seq(
      126 -> "Database requested by user doesn't exist") ++
      Seq(132, 133).map(_ -> "Azure AD failure")
  }
}
