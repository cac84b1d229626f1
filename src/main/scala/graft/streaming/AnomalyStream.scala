package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Aggregates

/** Continuous robust anomaly monitoring — the streaming twin of
  * [[Aggregates.robustAnomaly]] (q186). Cross-batch state is the
  * accumulated (name, hour, n) hourly count table: sum-mergeable
  * (hour cells are disjoint or add), and AGGREGATE-sized — one row per
  * event-name-hour at any history length, where the corpus itself grows
  * without bound. Per micro-batch: sum-fold the batch's hourly counts
  * into the stored table, recompute the median/MAD baseline over the
  * FULL accumulated table (the percentile work is on the tiny state, not
  * the stream), and emit flags for the (name, hour) cells this batch
  * touched — each flag judged against the all-history robust baseline,
  * which a batch-local detector cannot see.
  *
  * Replay: addition is NOT idempotent, so a batch retried after its
  * commit must be skipped — [[FoldState]] does — or it would double-count.
  */
object AnomalyStream {

  /** The live accumulated (name, hour, n) table; empty before commit 1. */
  def hourlyTable(spark: SparkSession, root: String): DataFrame =
    FoldState.table(spark, root)(spark.range(0).select(
      col("id").cast("string").as("name"),
      col("id").cast("timestamp").as("hour"), col("id").as("n")))

  /** Start over an event stream (needs `name` and `ts` columns). Per
    * batch, `root/flags` receives one row per (name, hour) cell present
    * in the batch, scored against the accumulated baseline AFTER folding
    * the batch in. With `seasonal = true` the baseline is the
    * per-(name, hour-of-day) median/MAD (q208's detector) — same
    * accumulated hourly state, different percentile keying; the state
    * layout and the exactly-once discipline don't change. */
  def start(events: DataFrame, root: String, checkpoint: String,
            zX1e3Min: Long = 3500L, seasonal: Boolean = false): StreamingQuery =
    FoldState.start(events, root, checkpoint) { (batch, batchId, cache) =>
      val batchHourly = cache(Aggregates.hourlyCounts(batch))
      val merged = cache(hourlyTable(batch.sparkSession, root)
        .unionByName(batchHourly)
        .groupBy("name", "hour").agg(sum("n").as("n")))
      val flags =
        if (seasonal) Aggregates.seasonalAnomalyFromHourly(merged, zX1e3Min)
        else Aggregates.robustAnomalyFromHourly(merged, zX1e3Min)
      flags.join(batchHourly.select("name", "hour"), Seq("name", "hour"),
          "left_semi")
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$root/flags")
      merged
    }
}
