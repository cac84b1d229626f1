package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Sketches

/** Continuous distinct-count maintenance — the streaming twin of
  * [[Sketches.hllDistinct]] (q132). Per micro-batch: estimate each event
  * name's distinct-key count BEFORE the batch (from the stored registers),
  * MAX-fold the batch's own registers in, estimate AFTER, and emit
  * `(name, est_before, est_after, batch_id)` — `est_after - est_before`
  * is the batch's novelty, the "how many never-seen keys arrived today"
  * number an ingestion dashboard wants. Cross-batch state is ≤64 registers
  * per event name at ANY history length, where an exact distinct would
  * keep every key ever seen.
  *
  * Replay: register max-merge is IDEMPOTENT (max(max(s,b),b) = max(s,b)),
  * so a replayed batch re-merges harmlessly — [[FoldState]]'s pointer flip
  * serves reader atomicity here, not exactly-once arithmetic as in
  * [[CmsStream]]'s sum-fold. */
object HllStream {

  /** The live (name, reg, m) register table; empty before the first commit. */
  def regTable(spark: SparkSession, root: String): DataFrame =
    FoldState.table(spark, root)(spark.range(0).select(
      col("id").cast("string").as("name"),
      col("id").as("reg"), col("id").as("m")))

  /** Start over a keyed stream (needs `name` and `keyCol` columns). Per
    * batch, `root/estimates` receives one row per event name present in
    * the batch. */
  def start(keyed: DataFrame, root: String, checkpoint: String,
            keyCol: String = "conv_id"): StreamingQuery =
    FoldState.start(keyed, root, checkpoint) { (batch, batchId, cache) =>
      val stored = regTable(batch.sparkSession, root)
      val merged = cache(Sketches.hllMergeRegs(stored,
        Sketches.hllRegs(batch, keyCol)))
      val before = Sketches.hllEstimate(stored)
        .select(col("name"), col("hll_est").as("est_before"))
      val after = Sketches.hllEstimate(merged)
        .select(col("name"), col("hll_est").as("est_after"))
      batch.select("name").distinct()
        .join(before, Seq("name"), "left")
        .join(after, Seq("name"), "left")
        .na.fill(0L, Seq("est_before"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$root/estimates")
      merged
    }
}
