package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Enrich, Grok}
import graft.operators.{Filters, Routing}
import graft.sources.Transcripts

/** The end-to-end batch pipeline: parse → enrich → filter → route —
  * the Spark-native equivalent of the reference's per-event chain
  * (`pkg/app/process_session.go:117-335`), expressed as one declarative
  * plan so Catalyst fuses every projection/filter into a single
  * WholeStageCodegen pass over the parquet scan.
  */
object Pipeline {

  // ---- transform stages over an arbitrary transcript frame (batch OR
  // streaming micro-batch — same column logic, per the north rule) ----------

  def parse(df: DataFrame): DataFrame = Grok.parse(df)

  /** Filter FIRST on raw text (cheap lite extractions), then parse+enrich
    * survivors once — predicate pushdown would otherwise clone the
    * expensive parse expression into every predicate (Filters.standardOnRaw
    * scaladoc has the numbers). Output rows identical to the post-parse
    * placement (FilterPlacementSpec). */
  def process(df: DataFrame, spark: SparkSession): DataFrame =
    Enrich.enrich(parse(Filters.standardOnRaw(df)), spark)

  /** filtered frame → routed frame with sink_index + serialized NDJSON doc
    * (P13, `pkg/xe/xe.go:816-825`): to_json over the payload struct with
    * null fields dropped — matching the reference's absent-key semantics
    * (SURVEY.md §7.4.2). */
  def route(filtered: DataFrame, spark: SparkSession): DataFrame = {
    val f = Routing.withSinkIndex(filtered)
    f.withColumn("doc_json",
      graft.functions.JsonDoc.jsonDoc(struct(
        col("name"), col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts").as("@timestamp"),
        col("error_number"), col("severity_num"), col("state_num"),
        col("client_addr"), col("xe_severity_value"), col("xe_severity_keyword"),
        col("xe_category"), col("xe_description"), col("xe_acct_app"),
        col("entity_name"), col("sink_index"))))
  }

  /** Full transform: transcripts frame → routed frame. */
  def transform(df: DataFrame, spark: SparkSession): DataFrame =
    route(process(df, spark), spark)

  // ---- sfDir-loading conveniences ------------------------------------------

  /** parse + errorlog split (P1-P7). */
  def parsed(spark: SparkSession, sfDir: String): DataFrame =
    parse(Transcripts.load(spark, sfDir))

  /** parse + full enrichment (E1-E12). */
  def enriched(spark: SparkSession, sfDir: String): DataFrame =
    Enrich.enrich(parsed(spark, sfDir), spark)

  /** filters (raw, F1-F5) + parse + enrich. */
  def filtered(spark: SparkSession, sfDir: String): DataFrame =
    process(Transcripts.load(spark, sfDir), spark)

  def routed(spark: SparkSession, sfDir: String): DataFrame =
    route(filtered(spark, sfDir), spark)
}
