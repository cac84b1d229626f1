package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Graft

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): score every raw document
  * by how much its hashed n-gram feature distribution resembles a target
  * domain, then select the docs that look more target-like than the
  * corpus average. This is the standard pretraining-mixture step between
  * cleaning and sampling — the quality classifier's distribution-level
  * complement.
  *
  * Scale shape: features are token hashes folded into a FIXED number of
  * buckets, so the learned "model" is a ≤`buckets`-row table that
  * broadcasts no matter how big the corpus is. The corpus tokenizes and
  * explodes ONCE, reduced immediately to a cached per-(doc, bucket) count
  * frame; rates, the selection threshold, and the per-doc scores all
  * derive from that frame (bucket counts reduce with map-side combine;
  * the per-doc score is one broadcast probe + one doc_id-keyed
  * aggregation). Nothing corpus-sized is ever collected or broadcast.
  *
  * All arithmetic is integer-exact (micro-ratios via IntegralDivide) so
  * the DuckDB oracle hash-matches bit-for-bit; true DSIR uses log-ratios
  * of smoothed n-gram probabilities — the dataflow is identical, the
  * per-bucket score function is the swappable part.
  */
object Selection {

  /** Per-document importance weight vs the `targetLang` slice.
    *
    * Per bucket b: ratio_micro(b) = 1e6·n_target(b) DIV n_raw(b) — the
    * target-vs-raw rate of that feature. Per doc: the sum and mean of its
    * token instances' ratios; `selected` when the doc's mean ratio beats
    * the corpus-wide target token share (docs more target-like than
    * average survive resampling).
    *
    * Output: (doc_id, lang, n_tokens, weight_sum, mean_weight_micro,
    * selected); zero-token docs keep weight 0 and are never selected. */
  def dsirWeights(docs: DataFrame, buckets: Int = 1024,
                  targetLang: String = "en"): DataFrame = Graft.cached { cache =>
    // ONE tokenize+explode pass, reduced immediately to per-(doc, bucket)
    // counts — every downstream consumer (rates, threshold, scores) reads
    // this cached frame instead of re-tokenizing the corpus. The frame is
    // corpus×distinct-buckets-per-doc rows (≤1024 per doc), far smaller
    // than the instance level, and map-side combine shrinks the agg input
    // before its one shuffle. Previously rates/threshold/scores each ran
    // the explode from scratch: three full corpus passes → one.
    val docBucket = cache(docs.select(col("doc_id"), col("lang"),
        explode(TextAnalysis.tokHashes(col("text"))).as("h"))
      .withColumn("b", col("h") % buckets)
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt")))
    // feature table: ≤`buckets` rows regardless of corpus size
    val rates = docBucket.groupBy("b").agg(
        sum("cnt").as("n_raw"),
        sum(when(col("lang") === targetLang, col("cnt")).otherwise(0L))
          .as("n_target"))
      .withColumn("ratio_micro", expr("n_target * 1000000 DIV n_raw"))
    // corpus-wide target share: the selection threshold. Derived from the
    // rates table's totals — identical to aggregating the raw instances
    // (both count token instances) at the cost of a ≤`buckets`-row agg.
    val thr = rates.agg(
      expr("sum(n_target) * 1000000 DIV sum(n_raw)").as("share_micro"))
    val scored = docBucket
      .join(broadcast(rates.select("b", "ratio_micro")), Seq("b"))
      .groupBy("doc_id").agg(
        sum("cnt").as("n_tokens"),
        sum(col("cnt") * col("ratio_micro")).as("weight_sum"))
      .withColumn("mean_weight_micro", expr("weight_sum DIV n_tokens"))
    docs.select("doc_id", "lang")
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(thr))
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("weight_sum"), lit(0L)).as("weight_sum"),
        coalesce(col("mean_weight_micro"), lit(0L)).as("mean_weight_micro"),
        (coalesce(col("mean_weight_micro"), lit(0L)) >= col("share_micro"))
          .as("selected"))
      .localCheckpoint()
  }

  /** The actual DSIR RESAMPLE — the second half of importance resampling
    * that [[dsirWeights]] scores for: draw a fixed per-language budget of
    * documents with probability proportional to the importance weight,
    * deterministically (A-Res weighted reservoir shape, q144's hash DIV
    * weight priority, here with the DSIR weight as the weight). Heavier
    * (more target-like) docs win more often; any doc with nonzero weight
    * can still win — the diversity property hard thresholding
    * (`selected`) lacks, and the reason DSIR resamples instead of
    * top-k'ing.
    *
    * Scale shape: [[dsirWeights]]'s one tokenize pass + broadcast probes;
    * the ranking adds one lang-keyed window over the NARROW weights frame
    * (4 columns — text never enters). */
  def dsirSample(docs: DataFrame, k: Int = 50, buckets: Int = 1024,
                 targetLang: String = "en"): DataFrame = {
    val h32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("priority"), col("doc_id"))
    dsirWeights(docs, buckets, targetLang)
      .withColumn("weight", greatest(col("mean_weight_micro"), lit(1L)))
      .withColumn("h32_", h32)
      .withColumn("priority", expr("h32_ DIV weight"))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("weight"),
        col("priority"), col("rk").cast("long").as("rk"))
  }

  /** Quality-budget PRUNING PLAN — "we can afford B training tokens;
    * where does the quality bar land?" Documents histogram into fixed
    * classifier-logit buckets; admitting buckets best-first until the
    * token budget is spent yields the global score threshold plus, per
    * bucket, its admission verdict and exactly how many of its tokens
    * fit. The plan (not the filtered corpus) is the product: applying it
    * later is a map-only gate on `logit ≥ threshold-bucket` with the
    * ≤41-row plan broadcast — the data-pruning complement of
    * [[dsirWeights]]' distribution matching.
    *
    * Scale shape: ONE map-only corpus pass (fused [[TokenScore]] logit →
    * bucket) into a hash-agg bounded by the bucket count; the cumulative
    * sweep is a single-partition window over those ≤41 rows (the
    * mixturePlan convention — fine because the frame is tiny by
    * construction). Integer-exact: bucket = floor(logit_x1e3 / width),
    * admit_tokens arithmetic is pure Long. */
  def prunePlan(docs: DataFrame, budgetTokens: Long,
                bucketWidthX1e3: Long = 50000L): DataFrame =
    prunePlanCore(docs, lit(budgetTokens), bucketWidthX1e3)

  /** [[prunePlan]] with the budget as a SHARE of the corpus token mass
    * (numer/denom) — scale-free, so the same plan query exercises a
    * partial bucket at every test SF. The share-of-total budget derives
    * from the histogram itself (a window over the tiny frame), still no
    * driver collect. */
  def prunePlanShare(docs: DataFrame, shareNumer: Long = 1L,
                     shareDenom: Long = 4L,
                     bucketWidthX1e3: Long = 50000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = sum(col("sum_tokens")).over(
      Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    prunePlanCore(docs, expr(s"tot_ * ${shareNumer}L DIV ${shareDenom}L"),
      bucketWidthX1e3, Some(tot))
  }

  private def prunePlanCore(docs: DataFrame, budget: org.apache.spark.sql.Column,
                            bucketWidthX1e3: Long,
                            totCol: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = docs
      .select(TokenScore.scoreStruct(col("text")).as("_s"))
      .select(col("_s.n_tokens").as("n_tokens"),
        col("_s.score_sum").as("score_sum"))
      .withColumn("logit_x1e3",
        when(col("n_tokens") > 0,
          floor(col("score_sum") * lit(1000.0) / col("n_tokens")).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("bucket",
        floor(col("logit_x1e3") / lit(bucketWidthX1e3.toDouble)).cast("long"))
    val hist = scored.groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withTot = totCol match {
      case Some(t) => hist.withColumn("tot_", t)
      case None    => hist
    }
    withTot
      .withColumn("budget_", budget)
      .withColumn("cum_tokens", sum(col("sum_tokens")).over(w))
      .withColumn("admit",
        when(col("cum_tokens") <= col("budget_"), "full")
          .when(col("cum_tokens") - col("sum_tokens") < col("budget_"),
            "partial")
          .otherwise("drop"))
      .withColumn("admit_tokens",
        when(col("admit") === "full", col("sum_tokens"))
          .when(col("admit") === "partial",
            col("budget_") - (col("cum_tokens") - col("sum_tokens")))
          .otherwise(lit(0L)))
      .select("bucket", "n_docs", "sum_tokens", "cum_tokens", "admit",
        "admit_tokens")
  }

  /** Pareto frontier over (quality ↑, length ↓): the documents no other
    * document beats on BOTH axes — the exemplar set a few-shot/SFT
    * curator wants ("the most prose-like document at every length
    * budget"), where a single blended score ([[graft.text.CorpusOps]]'
    * ensembleRank) must pick one trade-off. Quality = stopword permille
    * (the prose-likeness heuristic, bounded 0..1000), cost = token count.
    * A doc is dominated iff some other doc has ≥ quality and ≤ tokens
    * with at least one strict; ties on both axes are mutually
    * non-dominating (both kept — the standard skyline definition).
    *
    * Scale shape: the O(n²) pair definition NEVER runs. Quality is a
    * bounded integer, so the frontier collapses to a ≤1001-row staircase:
    * per quality value the min token count (map-side-combined hash-agg),
    * a running strictly-above min on that aggregate, then one broadcast
    * semi-join admits exactly the frontier docs. Corpus cost = one
    * map-only pass + one grid agg, at any corpus size. */
  /** Greedy maximum-coverage selection: k documents chosen one at a time,
    * each maximizing the count of 3-token shingles NOT yet covered by the
    * previous picks (ties to the lower doc_id) — the classic (1 - 1/e)
    * greedy for the NP-hard max-coverage problem, and the DISCRETE
    * counterpart of [[graft.ann.Centroids.kCenterSelect]]'s geometric
    * diversity: k-center spreads picks in embedding space, this spreads
    * them across distinct PHRASING (the few-shot/eval-set curation
    * question "which k docs show the most distinct material?"; shingles,
    * not unigrams — a small closed vocabulary saturates in one pick while
    * its phrase space stays rich). Selection stops early when no document
    * adds anything new. Output per round: the pick, its marginal gain,
    * and the running covered-phrase count.
    *
    * Scale shape: k driver-sequenced rounds over the cached distinct
    * (doc_id, shingle) projection. The covered set is the union of ≤k doc
    * phrase sets — broadcast-sized by construction — so each round is
    * one broadcast anti-join + hash-agg + 1-row argmax; no quadratic
    * doc-pair work, nothing corpus-sized ever sits on the driver. */
  /** One greedy round: marginal-gain ranking of every doc against the
    * covered set (broadcast anti-join + hash-agg + argmax order) —
    * exposed so PlanAudit/PlanSpec can assert the per-round shape
    * without driving the k-round loop. */
  private[graft] def maxCoverageRound(ex: DataFrame,
                                      chosen: Seq[Long]): DataFrame = {
    val gains =
      if (chosen.isEmpty) ex
      else ex.join(broadcast(ex.filter(col("doc_id").isin(chosen: _*))
        .select("tok").distinct()), Seq("tok"), "left_anti")
    gains.groupBy("doc_id").agg(count(lit(1)).as("gain"))
      .orderBy(col("gain").desc, col("doc_id"))
  }

  def maxCoverageSelect(docs: DataFrame, k: Int = 6): DataFrame = Graft.cached { cache =>
    val spark = docs.sparkSession
    import spark.implicits._
    val ex = cache(docs.select(col("doc_id"), explode(array_distinct(
        graft.dedup.Dedup.shingleHashes(col("text")))).as("tok")))
    ex.count()
    var chosen = Vector.empty[Long]
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var round = 1
    var done = false
    var covTotal = 0L
    while (round <= k && !done) {
      val top = maxCoverageRound(ex, chosen).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        chosen :+= top(0).getLong(0)
        // covered_total needs no recount job: the pick's gain counts
        // exactly its shingles NOT yet covered (ex is per-doc distinct),
        // so the union size is the running sum of gains — identical to
        // the distinct().count() it replaces, at zero corpus passes
        covTotal += top(0).getLong(1)
        rows += ((round.toLong, top(0).getLong(0), top(0).getLong(1), covTotal))
        round += 1
      }
    }
    rows.toSeq.toDF("round", "doc_id", "gain", "covered_total")
  }

  def paretoFrontier(docs: DataFrame): DataFrame = {
    val qc = graft.text.TextAnalysis.qualityColumns(col("text"))
    val pts = docs.select(col("doc_id"),
      qc("stop_permille").as("stop_permille"),
      qc("n_tokens").as("n_tokens"))
    val grid = pts.groupBy("stop_permille")
      .agg(min(col("n_tokens")).as("minlen"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("stop_permille").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = grid
      .withColumn("min_above", min(col("minlen")).over(w))
      .filter(col("min_above").isNull || col("minlen") < col("min_above"))
      .select(col("stop_permille").as("fr_q"), col("minlen").as("fr_len"))
    pts.join(broadcast(frontier),
        col("stop_permille") === col("fr_q") &&
          col("n_tokens") === col("fr_len"))
      .select("doc_id", "stop_permille", "n_tokens")
  }

  /** ACTIVE-LEARNING batch selection — which documents should a human
    * (or a frontier model) label next? The classic query-by-committee ∩
    * uncertainty recipe over this engine's two existing raters: the
    * pool is the DISAGREEMENT set (heuristic quality gate vs classifier
    * keep — where the raters disagree is where a label buys the most),
    * ranked by |logit| ascending (closest to the decision boundary =
    * most uncertain), doc_id tie-break, cut at `budget`. Labels spent on
    * confident agreements are wasted; this is the measured alternative.
    *
    * Shape: both verdicts are ONE map-only pass off the scan (fused
    * TokenScore + the quality battery, the raterAgreement shape); only
    * the disagreement SLIVER reaches the ranking window (pool-sized, a
    * small share of any real corpus — swap in the q280 tournament if a
    * pool ever rivals the corpus). */
  def activeLearningBatch(docs: DataFrame, budget: Int = 50): DataFrame = {
    val qc = TextAnalysis.qualityColumns(col("text"))
    val rated = docs.select(col("doc_id"),
        when(qc("quality_bucket") === "ok", 1L).otherwise(0L).as("heur_keep"),
        TokenScore.scoreStruct(col("text")).as("_s"))
      .withColumn("logit_x1e3",
        when(col("_s.n_tokens") > 0,
          floor(col("_s.score_sum") * lit(1000.0) / col("_s.n_tokens"))
            .cast("long"))
          .otherwise(lit(0L)))
      .withColumn("clf_keep",
        when(col("logit_x1e3") >= 0, 1L).otherwise(0L))
      .filter(col("heur_keep") =!= col("clf_keep"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(abs(col("logit_x1e3")), col("doc_id"))
    rated.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= budget)
      .select("rank", "doc_id", "logit_x1e3", "heur_keep", "clf_keep")
  }
}
