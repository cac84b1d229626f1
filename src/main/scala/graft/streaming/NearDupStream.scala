package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.dedup.Dedup

/** Continuous batch-vs-index near-dup screening — the streaming twin of
  * [[graft.dedup.Curation.incrementalVerdicts]] (q81): every micro-batch
  * is screened against an index accumulated from ALL previous batches,
  * then folded in, so cost per batch scales with the batch and never with
  * the corpus behind it.
  *
  * The cross-batch state is deliberately NOT the documents: it is the
  * per-doc (128-bit content key, 8-minhash signature) table — fixed ~100
  * bytes/doc regardless of document length, the thing that actually fits
  * a 10^12-doc index. That choice changes the near-dup verify step: the
  * batch op verifies candidates by exact shingle Jaccard against the
  * stored TEXT; here candidates (band collisions) are verified by
  * SIGNATURE AGREEMENT (matching minhashes / 8 — an unbiased Jaccard
  * estimator), the standard sketch-index trade. NearDupStreamSpec pins
  * the two regimes against each other on planted edits.
  *
  * Replay: the index fold (a row append) is NOT idempotent, so a batch
  * retried after its commit must be — and, by [[FoldState]], is — skipped.
  */
object NearDupStream {

  /** (doc_id, norm_h, mh0..mh7) for a static frame — the index row shape. */
  def indexRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Dedup.exactKeyHash(col("text")).as("norm_h"))
      .join(Dedup.signatures(docs), "doc_id")

  /** The live index; empty frame with the right schema before batch 0. */
  def indexTable(spark: SparkSession, root: String): DataFrame =
    FoldState.table(spark, root)(spark.range(0).select(
      (col("id").as("doc_id") +: col("id").cast("string").as("norm_h") +:
        (0 until Dedup.NumHashes).map(i => col("id").as(s"mh$i"))): _*))

  /** Verdicts for one batch against a stored index frame (shared by the
    * stream and by tests): exact_dup on content-key match, near_dup when
    * any LSH band collides AND ≥ `sigAgreeMin` of 1000 minhashes agree,
    * else new. */
  def screen(batch: DataFrame, stored: DataFrame,
             sigAgreeMin: Int = 500): DataFrame = {
    val rows = indexRows(batch)
    val exact = rows.select("doc_id", "norm_h")
      .join(stored.select(col("norm_h")).distinct(), Seq("norm_h"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    def bands(sigs: DataFrame, idCol: String) =
      (0 until Dedup.NumHashes / 2).map { b =>
        sigs.select(col("doc_id").as(idCol), lit(b).as("band_idx"),
          Dedup.bandSig(b).as("band_sig"))
      }.reduce(_ unionByName _)
    val cand = bands(rows, "doc_a")
      .join(bands(stored, "doc_b"), Seq("band_idx", "band_sig"))
      .select("doc_a", "doc_b").distinct()
    val agree = cand
      .join(rows.select((col("doc_id").as("doc_a") +:
        (0 until Dedup.NumHashes).map(i => col(s"mh$i").as(s"a_mh$i"))): _*),
        "doc_a")
      .join(stored.select((col("doc_id").as("doc_b") +:
        (0 until Dedup.NumHashes).map(i => col(s"mh$i").as(s"b_mh$i"))): _*),
        "doc_b")
      .withColumn("n_agree",
        (0 until Dedup.NumHashes).map(i =>
          when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
          .reduce(_ + _))
      .withColumn("agree_permille",
        expr(s"n_agree * 1000 DIV ${Dedup.NumHashes}"))
      .filter(col("agree_permille") >= sigAgreeMin)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(agree, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("new").as("verdict"))
  }

  /** Start the continuous screen over a document stream (doc_id, text).
    * Verdicts append under `root/verdicts`; the sketch index lives under
    * `root` behind the CURRENT pointer. */
  def start(docs: DataFrame, root: String, checkpoint: String,
            sigAgreeMin: Int = 500): StreamingQuery =
    FoldState.start(docs, root, checkpoint) { (batch, batchId, cache) =>
      val stored = cache(indexTable(batch.sparkSession, root))
      screen(batch, stored, sigAgreeMin)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$root/verdicts")
      stored.unionByName(indexRows(batch))
    }
}
