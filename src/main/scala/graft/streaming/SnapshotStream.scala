package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Incremental

/** Streaming snapshot maintenance — the continuous twin of
  * [[graft.operators.Incremental.upsert]]: a CDC change stream folds into
  * a latest-wins snapshot table through [[FoldState]], the Structured
  * Streaming idiom for MERGE-style sinks Spark has no native writer for.
  *
  * Replay: a replayed batch re-upserts the same rows and, because `upsert`
  * is idempotent on equal versions (change side wins ties), the snapshot
  * converges to the same state.
  *
  * Scale shape: the per-batch cost is one union + hash-agg over
  * |snapshot| + |batch| — the same single-exchange plan as the batch
  * operator. At 100 TB the snapshot side would be partitioned storage
  * (rewrite only the key-range partitions the batch touches); the
  * alternating-directory form here keeps the semantics honest at test
  * scale without a table format.
  */
object SnapshotStream {

  /** Read the live snapshot (empty-schema-safe: callers supply the
    * frame's schema via the stream itself before the first commit). */
  def snapshot(spark: SparkSession, root: String): Option[DataFrame] =
    FoldState.current(root).map(d => spark.read.parquet(d))

  /** Start the maintenance loop over a change stream. */
  def start(changes: DataFrame, root: String, checkpoint: String,
            keyCols: Seq[String], versionCols: Seq[String]): StreamingQuery =
    FoldState.start(changes, root, checkpoint) { (batch, _, _) =>
      val base = snapshot(batch.sparkSession, root).getOrElse(batch.limit(0))
      Incremental.upsert(base, batch, keyCols, versionCols)
    }
}
