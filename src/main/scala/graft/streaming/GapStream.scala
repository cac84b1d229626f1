package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Aggregates

/** Continuous inter-arrival monitoring — the streaming twin of
  * [[Aggregates.interArrival]] (q225), and the first ORDER-DEPENDENT
  * cross-batch state in the streaming family: CMS/HLL/hourly counts fold
  * commutatively, but gap moments depend on the event sequence, so the
  * fold carries each (name, hour) cell's boundary anchors (min_us /
  * max_us) and stitches ONE boundary gap (batch min − stored max) when a
  * later batch extends a cell — exactly SkewWindows' chunked-lag stitch,
  * applied across micro-batches instead of across chunk rows.
  *
  * Contract: batches must be cell-monotone (a cell's events in batch
  * k+1 all follow its events in batch k) — the natural property of an
  * offset-ordered file/log reader, and the same in-order assumption every
  * watermark carries. State is aggregate-sized: one moment row per
  * (name, hour) at any history length.
  *
  * Replay: the moment sums are NOT idempotent, so a batch retried after
  * its commit must be skipped — [[FoldState]] does — or it would
  * double-fold.
  */
object GapStream {

  /** The live accumulated per-(name, hour) moment table; empty before
    * the first commit. */
  def momentsTable(spark: SparkSession, root: String): DataFrame =
    FoldState.table(spark, root)(spark.range(0).select(
      col("id").cast("string").as("name"),
      col("id").cast("timestamp").as("hour"),
      col("id").as("n_gaps"),
      col("id").cast("decimal(28,0)").as("sum_g"),
      col("id").cast("decimal(28,0)").as("sum_g2"),
      col("id").as("max_gap_us"),
      col("id").as("min_us"), col("id").as("max_us")))

  /** Stitch a batch's cell moments onto the accumulated table: disjoint
    * cells pass through, shared cells add their moment sums PLUS the one
    * boundary gap between the stored tail and the batch head. Null-safe
    * join keys (an unparseable name groups as NULL, which a plain
    * equi-join would silently drop on every fold). */
  def mergeMoments(state: DataFrame, batch: DataFrame): DataFrame = {
    val s = state.columns.foldLeft(state)((d, c) => d.withColumnRenamed(c, s"s_$c"))
    val b = batch.columns.foldLeft(batch)((d, c) => d.withColumnRenamed(c, s"b_$c"))
    val boundary = when(col("s_max_us").isNotNull && col("b_min_us").isNotNull,
      col("b_min_us") - col("s_max_us"))
    s.join(b, col("s_name") <=> col("b_name") && col("s_hour") <=> col("b_hour"),
        "full_outer")
      .withColumn("_bd", boundary)
      .select(
        coalesce(col("s_name"), col("b_name")).as("name"),
        coalesce(col("s_hour"), col("b_hour")).as("hour"),
        (coalesce(col("s_n_gaps"), lit(0L)) + coalesce(col("b_n_gaps"), lit(0L))
          + when(col("_bd").isNotNull, 1L).otherwise(0L)).as("n_gaps"),
        (coalesce(col("s_sum_g"), lit(0L).cast("decimal(28,0)"))
          + coalesce(col("b_sum_g"), lit(0L).cast("decimal(28,0)"))
          + coalesce(col("_bd").cast("decimal(18,0)"),
            lit(0L).cast("decimal(18,0)"))).cast("decimal(28,0)").as("sum_g"),
        (coalesce(col("s_sum_g2"), lit(0L).cast("decimal(28,0)"))
          + coalesce(col("b_sum_g2"), lit(0L).cast("decimal(28,0)"))
          + coalesce(col("_bd").cast("decimal(18,0)")
            * col("_bd").cast("decimal(18,0)"),
            lit(0L).cast("decimal(37,0)"))).cast("decimal(28,0)").as("sum_g2"),
        greatest(col("s_max_gap_us"), col("b_max_gap_us"), col("_bd"))
          .as("max_gap_us"),
        least(col("s_min_us"), col("b_min_us")).as("min_us"),
        greatest(col("s_max_us"), col("b_max_us")).as("max_us"))
  }

  /** Start over an event stream (needs `name`, `ts`, `conv_id`,
    * `turn_idx`). Per batch, `root/fano` receives the all-history
    * per-name inter-arrival profile for names the batch touched. */
  def start(events: DataFrame, root: String, checkpoint: String): StreamingQuery =
    FoldState.start(events, root, checkpoint) { (batch, batchId, cache) =>
      val bm = cache(Aggregates.gapMoments(batch))
      val merged = cache(mergeMoments(momentsTable(batch.sparkSession, root), bm))
      val prof = Aggregates.interArrivalFromMoments(merged)
      val touched = bm.select(col("name").as("t_name")).distinct()
      prof
        .join(touched, prof("name") <=> touched("t_name"), "left_semi")
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$root/fano")
      merged
    }
}
