package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) CONSTRUCTION from a change-event
  * stream: the pipeline stage that BUILDS the versioned dimension the
  * as-of lookup (E8, `Enrich.withEntityName`) consumes — in the reference
  * the server/domain lookup tables are maintained out-of-band
  * (`pkg/app/server.go` config lookups); at corpus scale the history has
  * to be derived from the events themselves.
  */
object Scd2 {

  /** Fold `(key, value, ts)` observations into SCD2 validity ranges:
    * consecutive same-value runs per key merge into one version row with
    * `valid_from` (first observation), `valid_to` (next version's start,
    * null while current), `version_idx`, and the run's event count.
    *
    * Two windows, both partitioned by the dimension key — the shuffle is
    * keyed on `key` and each partition holds one entity's history (entity
    * histories are shallow; hot entities are bounded by their own event
    * count, not the corpus). Ordering ties on `ts` break by `value` so
    * run assignment is total and engine-independent. */
  def build(events: DataFrame, key: String, value: String,
            tsCol: String = "ts"): DataFrame = {
    val byKey = Window.partitionBy(key).orderBy(col("ts_"), col(value))
    val marked = events.select(col(key), col(value), col(tsCol).as("ts_"))
      .withColumn("chg",
        when(lag(col(value), 1).over(byKey).isNull ||
          lag(col(value), 1).over(byKey) =!= col(value), 1L).otherwise(0L))
      .withColumn("version_idx", sum(col("chg")).over(byKey))
    val runs = marked.groupBy(col(key), col("version_idx"))
      .agg(min(col(value)).as(value),           // constant within the run
        min(col("ts_")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy(key).orderBy("version_idx")
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
