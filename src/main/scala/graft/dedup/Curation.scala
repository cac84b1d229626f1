package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** End-to-end corpus curation — the composition a training-data pipeline
  * actually ships: quality gate → language gate → exact dedup → MinHash-LSH
  * near-dup clusters → one keeper per cluster. Every input document gets a
  * verdict, so the kept corpus and each drop reason are one filter away.
  *
  * Scale design: the gates are per-row expression trees (no shuffle); exact
  * dedup is one hash-aggregate on the normalized text; the near-dup stage
  * sees only gate+exact survivors and pairs them through the LSH banding
  * equi-join (never all-pairs); cluster keepers come from iterative
  * min-label propagation over the verified pair graph. Each stage shrinks
  * the data for the next — the whole chain is linear in input size.
  */
object Curation {

  /** Exact-dedup key: the 128-bit content hash, not the normalized text —
    * the grouping exchange carries 32 chars per row (see Dedup.exactKeyHash). */
  private def norm = Dedup.exactKeyHash(col("text"))

  /** Verdict per document: kept | quality_<bucket> | lang | exact_dup |
    * near_dup. Drop order matches a real pipeline: cheap gates first, then
    * exact, then near-dup — a doc failing several stages reports the first. */
  def curate(docs: DataFrame, jaccardPermilleMin: Int = 600): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val qc = TextAnalysis.qualityColumns(col("text"))
    // ONE corpus scan: gates + the exact-dedup key (norm only for rows
    // that pass the gates — failed rows never pay the 128-bit hash), then
    // cached. Every later stage reads this cache; the parquet scan and
    // the gate expression trees run exactly once.
    val gated = docs.select(col("doc_id"), col("text"),
        qc("quality_bucket").as("quality_bucket"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      .withColumn("norm",
        when(col("quality_bucket") === "ok" && col("lang_pred") === "en", norm))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val normed = gated.filter(col("norm").isNotNull)
      .select(col("doc_id"), col("text"), col("norm"))
    val exactKeeper = normed.groupBy("norm")
      .agg(min(col("doc_id")).as("exact_keeper"))
    // withExact feeds the survivor sketch stages AND the final verdict
    // join; cached so the exact-dedup shuffle (groupBy norm + join back)
    // runs once, not once per consumer. At 100 TB these two persists
    // replace three full corpus re-scans and a repeated exact-key
    // exchange. The cache lives until `unpersist` or `clearCache`.
    val withExact = normed.join(exactKeeper, "norm")
      .select(col("doc_id"), col("text"), col("exact_keeper"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // survivors' three consumers (LSH candidates + both sides of the
    // jaccard verify) each re-run the shingle sketch off this filter over
    // the withExact cache — the sketch work is theirs, the scan is free.
    val survivors = withExact.filter(col("doc_id") === col("exact_keeper"))
      .select("doc_id", "text")
    val pairs = Dedup.jaccardPermille(Dedup.lshCandidates(survivors), survivors)
      .filter(col("jaccard_permille") >= jaccardPermilleMin)
    val clusters = Dedup.duplicateClusters(pairs)
      .withColumnRenamed("keeper_id", "near_keeper")
    gated.select(col("doc_id"), col("quality_bucket"), col("lang_pred"))
      .join(withExact.select(col("doc_id"), col("exact_keeper")), Seq("doc_id"), "left")
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("quality_bucket") =!= "ok",
          concat(lit("quality_"), col("quality_bucket")))
          .when(col("lang_pred") =!= "en", lit("lang"))
          .when(col("exact_keeper") =!= col("doc_id"), lit("exact_dup"))
          .when(col("near_keeper").isNotNull &&
            col("near_keeper") =!= col("doc_id"), lit("near_dup"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** Incremental batch-vs-index dedup — the shape a production corpus
    * actually runs daily: verdict each NEW document against an EXISTING
    * corpus without re-processing history. The existing side participates
    * only through its md5 key set and its LSH band table
    * ([[Dedup.bandTable]]) — at 100 TB both are stored tables appended as
    * documents arrive, so the cost scales with the new batch (plus
    * equi-join probes), never with the corpus.
    *
    * Verdicts: exact_dup (content hash already present), near_dup
    * (shares an LSH band with an existing doc AND verifies ≥ threshold),
    * else new. Exact wins over near. */
  def incrementalVerdicts(newDocs: DataFrame, existing: DataFrame,
                          jaccardPermilleMin: Int = 600): DataFrame = {
    val newKeys = newDocs.select(col("doc_id"),
      Dedup.exactKeyHash(col("text")).as("h"))
    val oldKeys = existing.select(Dedup.exactKeyHash(col("text")).as("h"))
      .distinct()
    val exactDup = newKeys.join(oldKeys, Seq("h"), "left_semi")
      .select(col("doc_id")).withColumn("is_exact", lit(true))
    val candPairs = Dedup.bandTable(newDocs)
      .withColumnRenamed("doc_id", "doc_a")
      .join(Dedup.bandTable(existing).withColumnRenamed("doc_id", "doc_b"),
        Seq("band_idx", "band_sig"))
      .select("doc_a", "doc_b").distinct()
    val near = Dedup
      .jaccardPermille(candPairs, newDocs.unionByName(existing))
      .filter(col("jaccard_permille") >= jaccardPermilleMin)
      .select(col("doc_a").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    newDocs.select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_exact"), "exact_dup")
          .when(col("is_near"), "near_dup")
          .otherwise("new").as("verdict"))
  }

  /** RELEASE FUNNEL — the capstone attrition report of the curation
    * pipeline: how many documents survive each gate, in order
    * (input → quality "ok" → language "en" → blocklist-clean →
    * exact-dup keeper), with exact per-stage drop counts. This is the
    * single table a dataset release review reads first, and the
    * composition it audits is exactly the oracled gates this engine
    * already ships (q32 quality, q31 langId, q212 blocklist, q34 exact
    * dedup).
    *
    * Shape: the three expression gates are ONE map-only pass off the
    * scan; the keeper gate adds the one exact-dedup hash-agg on the
    * 128-bit content key (text never shuffles); the funnel itself is a
    * 1-row cumulative aggregate exploded into the 5-stage report. */
  def releaseFunnel(docs: DataFrame): DataFrame = {
    val qc = TextAnalysis.qualityColumns(col("text"))
    val banned = graft.text.Blocklist.defaultTerms
      .map(t => graft.text.Blocklist.hitCount(col("text"), t))
      .reduce(_ + _)
    val gated = docs.select(col("doc_id"),
      Dedup.exactKeyHash(col("text")).as("k"),
      (qc("quality_bucket") === "ok").as("g_quality"),
      (TextAnalysis.langId(col("text")) === "en").as("g_lang"),
      (banned === 0L).as("g_clean"))
    val keepers = gated.groupBy("k").agg(min("doc_id").as("keeper_id"))
    val flags = gated.join(keepers, "k")
      .withColumn("g_keeper", col("doc_id") === col("keeper_id"))
    val agg = flags.agg(
      count(lit(1)).as("s0"),
      sum(when(col("g_quality"), 1L).otherwise(0L)).as("s1"),
      sum(when(col("g_quality") && col("g_lang"), 1L).otherwise(0L))
        .as("s2"),
      sum(when(col("g_quality") && col("g_lang") && col("g_clean"), 1L)
        .otherwise(0L)).as("s3"),
      sum(when(col("g_quality") && col("g_lang") && col("g_clean")
        && col("g_keeper"), 1L).otherwise(0L)).as("s4"))
    agg.select(explode(array(
        struct(lit(0L).as("stage_idx"), lit("input").as("stage"),
          col("s0").as("n_remaining"), lit(0L).as("n_dropped")),
        struct(lit(1L).as("stage_idx"), lit("quality_ok").as("stage"),
          col("s1").as("n_remaining"), (col("s0") - col("s1")).as("n_dropped")),
        struct(lit(2L).as("stage_idx"), lit("lang_en").as("stage"),
          col("s2").as("n_remaining"), (col("s1") - col("s2")).as("n_dropped")),
        struct(lit(3L).as("stage_idx"), lit("blocklist_clean").as("stage"),
          col("s3").as("n_remaining"), (col("s2") - col("s3")).as("n_dropped")),
        struct(lit(4L).as("stage_idx"), lit("dedup_keeper").as("stage"),
          col("s4").as("n_remaining"), (col("s3") - col("s4")).as("n_dropped"))))
        .as("s"))
      .select("s.stage_idx", "s.stage", "s.n_remaining", "s.n_dropped")
  }
}
