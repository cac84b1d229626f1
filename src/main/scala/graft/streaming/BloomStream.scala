package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.Sketches

/** Continuous Bloom prefilter — the streaming twin of
  * [[Sketches.bloomPrefilter]] (q149), and the payoff of the word table
  * being MERGEABLE: per micro-batch, probe the incoming documents against
  * the filter accumulated from every previous batch, emit per-doc
  * verdicts, then `bit_or`-fold the batch's own shingles into the stored
  * table. The only cross-batch state is the ≤8 KB word table — constant
  * regardless of how many documents have streamed past — so the
  * dedup-prescreen keeps working after a restart, across shards (merge
  * the shard tables), and at any history length, where a key-set state
  * store would grow without bound.
  *
  * Replay: [[FoldState]] skips a batch retried after its commit, and even
  * a double merge would be harmless — bit_or is idempotent.
  */
object BloomStream {

  /** The live word table; empty (0-row) frame before the first commit. */
  def wordTable(spark: SparkSession, root: String): DataFrame =
    FoldState.table(spark, root)(
      spark.range(0).select(col("id").as("word"), col("id").as("bits")))

  /** Start the continuous prefilter over a document stream (doc_id, text).
    * Verdicts append to `root/verdicts`; the filter lives under `root`.
    * On a retry that died between the verdict append and the pointer
    * flip, verdicts are at-least-once (dedupe downstream on
    * (batch_id, doc_id) if the sink needs exactly-once). */
  def start(docs: DataFrame, root: String, checkpoint: String,
            minShingles: Int = 3): StreamingQuery =
    FoldState.start(docs, root, checkpoint) { (batch, batchId, cache) =>
      val sh = cache(batch.select(col("doc_id"),
        explode(array_distinct(
          graft.dedup.Dedup.shingleHashes(col("text")))).as("sh"))
        .withColumn("key", col("sh").cast("string")))
      val stored = wordTable(batch.sparkSession, root)
      val verdicts = Sketches.bloomProbe(sh, "key",
          Sketches.bloomRow(stored))
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("maybe_member"), 1L).otherwise(0L)).as("n_maybe"))
        .withColumn("needs_verify", col("n_maybe") >= minShingles)
        .withColumn("batch_id", lit(batchId))
      verdicts.write.mode("append").parquet(s"$root/verdicts")
      Sketches.bloomMerge(stored, Sketches.bloomWordTable(sh, "key"))
    }
}
