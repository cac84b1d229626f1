package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Sketches

/** Continuous count-min heavy-hitter counters — the streaming twin of
  * [[Sketches.cmsHeavyHitters]] (q137) and the addition-mergeability
  * payoff: per micro-batch, probe the incoming turns' templates against
  * the counters accumulated from every PREVIOUS batch (how hot was this
  * template historically, before this batch?), emit per-template
  * estimates, then SUM-fold the batch's own counter table into the
  * stored one. Cross-batch state is the ≤depth×width counter table —
  * constant at any history length, where an exact per-template state
  * store would grow with the template space.
  *
  * Replay: ADDITION is not idempotent, so a blind re-merge would
  * double-count the batch; [[FoldState]]'s skip of a batch retried after
  * its commit is what keeps the counters exact. */
object CmsStream {

  /** The live counter table; empty frame before the first commit. */
  def counterTable(spark: SparkSession, root: String): DataFrame =
    FoldState.table(spark, root)(spark.range(0).select(
      col("id").cast("int").as("row_idx"),
      col("id").as("cell"), col("id").as("cnt")))

  /** Start the continuous counter over a turn stream (needs a `text`
    * column). Per batch, `root/estimates` receives one row per DISTINCT
    * template in the batch: (tkey, batch_n, hist_est, batch_id) — the
    * batch's own exact count next to the CMS estimate of everything
    * BEFORE this batch. */
  def start(turns: DataFrame, root: String, checkpoint: String,
            width: Int = 256, depth: Int = 4): StreamingQuery =
    FoldState.start(turns, root, checkpoint) { (batch, batchId, cache) =>
      val keyed = cache(batch
        .select(Sketches.templateKey(col("text")).as("tkey")))
      val stored = counterTable(batch.sparkSession, root)
      val batchCounts = keyed.groupBy("tkey")
        .agg(count(lit(1)).as("batch_n"))
      batchCounts
        .join(Sketches.cmsProbe(batchCounts, stored, width, depth), "tkey")
        .withColumnRenamed("cms_est", "hist_est")
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$root/estimates")
      Sketches.cmsMerge(stored, Sketches.cmsCounterTable(keyed, width, depth))
    }
}
