package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.Graft

/** The checkpointed fold behind the stream-state twins ([[SnapshotStream]],
  * [[BloomStream]], [[CmsStream]], [[HllStream]], [[AnomalyStream]],
  * [[GapStream]], [[NearDupStream]]): cross-batch state is one table under
  * `root`, and each micro-batch folds into it — graft's form of the
  * reference's per-session state file with its `.0` safety copy
  * (ST2/ST5, `pkg/status/status.go:139-172`).
  *
  * Per micro-batch `b` (an `AvailableNow` drain under `checkpoint`):
  *  - the fold step reads the committed table (or an empty frame of its
  *    schema before the first commit), writes its own outputs and returns
  *    the new state;
  *  - the new state goes to `root/state_{b % 2}`, never the directory
  *    `CURRENT` names, so the step can read the old state while the new
  *    one is written;
  *  - `CURRENT` is flipped to it by an atomic rename of a sibling temp
  *    file: a reader (or a restart) sees the old path or the new one,
  *    never an empty pointer or a half-written table;
  *  - a batch whose directory `CURRENT` already names was applied in full
  *    (the pointer moves only after the state write) and is skipped. Spark
  *    replays exactly such a batch when the driver died after the flip
  *    but before the checkpoint commit, so the state is exactly-once even
  *    for folds that are not idempotent (sums, appends). The step's own
  *    outputs are at-least-once: a death between them and the flip
  *    replays them.
  *
  * Frames the step persists through its [[Graft.Cache]] are unpersisted
  * when the batch ends, also when a write throws, so a failed query
  * leaves nothing in the session's cache.
  */
object FoldState {

  /** The committed state directory, if any batch has committed. */
  def current(root: String): Option[String] = {
    val ptr = Paths.get(root, "CURRENT")
    if (Files.exists(ptr)) Some(Files.readString(ptr).trim) else None
  }

  /** The committed state table, or `empty` before the first commit. */
  def table(spark: SparkSession, root: String)(empty: => DataFrame): DataFrame =
    current(root).fold(empty)(spark.read.parquet(_))

  /** Fold `stream` into the state under `root`; `step(batch, batchId,
    * cache)` writes the batch's outputs and returns the new state. */
  def start(stream: DataFrame, root: String, checkpoint: String)(
      step: (DataFrame, Long, Graft.Cache) => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val next = s"$root/state_${batchId % 2}"
        if (!current(root).contains(next)) {
          Graft.cached(cache => step(batch, batchId, cache).write.mode("overwrite").parquet(next))
          flip(root, next)
        }
      }
      .start()

  private def flip(root: String, next: String): Unit = {
    val tmp = Paths.get(root, "CURRENT.tmp")
    Files.writeString(tmp, next)
    Files.move(tmp, Paths.get(root, "CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
