package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling: per-stratum keep rates applied
  * through a hash gate, so the SAME rows are kept on every run, on every
  * engine, at any parallelism — the property `df.sample()` cannot give
  * (its output depends on partition layout). This is the standard corpus
  * re-balancing step (e.g. upweight rare languages, downsample crawl
  * boilerplate) and is a pure per-row filter: no shuffle, fully pushed
  * into the scan stage.
  */
object Sampling {

  /** LCG hash gate in [0, 1000). doc ids are reduced mod P first so the
    * multiply stays far inside Long range at any corpus size. */
  def gatePermille(id: Column): Column =
    ((id % 1000000007L) * 1103515245L + 12345L) % 1000L

  /** Per-(event, hour) quota throttle: admit the first `quota` rows of
    * each (name, hour) cell by a deterministic hash priority, defer the
    * rest — the sink rate-limit plan (the reference's sampler sink keeps
    * one event per interval, `pkg/sink/sampler`; a throttle keeps the
    * first N and TELLS YOU what it deferred, so the deferred slice can
    * replay off-peak).
    *
    * One shuffle on the (name, hour) window keys; partitions are bounded
    * by the hour's volume per event. A cell hot enough to overwhelm one
    * task is exactly the storm the quota exists to clip — if that
    * becomes the bottleneck, pre-aggregate a per-cell count and admit by
    * gate percentile instead of rank (the [[reservoir]] shape). */
  def throttle(parsed: DataFrame, quota: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("name"), col("hour"))
      .orderBy(gatePermille(col("turn_idx")), col("conv_id"), col("turn_idx"))
    parsed.select(col("conv_id"), col("turn_idx"), col("name"),
        date_trunc("hour", col("ts")).as("hour"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("allowed", col("rk") <= quota)
  }

  /** Exact-quota reservoir: the k rows with the smallest hash gate per
    * stratum — a deterministic reservoir sample (same k rows on every
    * engine/run/partitioning, unlike a streaming reservoir). One window
    * shuffle keyed on the stratum; ties broken by doc_id so the cut is
    * total. */
  def reservoir(docs: DataFrame, k: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("sample_gate"), col("doc_id"))
    docs
      .withColumn("sample_gate", gatePermille(col("doc_id")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("sample_gate"),
        col("rk").cast("long").as("rk"))
  }

  /** WEIGHTED deterministic sample (priority-sampling shape): each row's
    * priority is `hash DIV weight` — a heavier row gets a proportionally
    * smaller priority, so keeping the k SMALLEST priorities per stratum
    * biases selection toward weight exactly like A-Res reservoir
    * sampling, but deterministically (integer division of a 32-bit md5
    * gate; no floating pow, so Spark and the oracle agree bit-for-bit).
    * Same one-window-per-stratum shape as [[reservoir]]; ties break on
    * (priority, doc_id) so the cut is total. Weight floors at 1. */
  def weightedSample(docs: DataFrame, weight: Column, k: Int = 10): DataFrame = {
    val h32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("priority"), col("doc_id"))
    docs
      .withColumn("weight_", greatest(weight.cast("long"), lit(1L)))
      .withColumn("h32_", h32)
      .withColumn("priority", expr("h32_ DIV weight_"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("lang"), col("weight_").as("weight"),
        col("priority"), col("rk").cast("long").as("rk"))
  }

  /** Deterministic train/val/test assignment by hash permille: stable
    * under corpus growth (a document's split never changes when other
    * documents are added — the property random split lacks). */
  def split(docs: DataFrame, valPermille: Int = 100,
            testPermille: Int = 100): DataFrame = {
    val g = gatePermille(col("doc_id"))
    docs.select(col("doc_id"), col("lang"),
      when(g < valPermille, "val")
        .when(g < valPermille + testPermille, "test")
        .otherwise("train").as("split"))
  }

  /** Data-mixture balancing: given TARGET corpus shares per language
    * (weights, relative), compute each stratum's deterministic keep rate so
    * the kept corpus matches the target mix, then gate rows. The scaling
    * anchors on the most-constrained stratum (the one whose tokens run out
    * first, which keeps 100%); every other stratum downsamples to
    * `floor(1000 · w_l · T_m / (w_m · T_l))` permille, so kept-token
    * ratios equal the target weight ratios — the standard "rebalance the
    * crawl to the training mixture" step.
    *
    * Scale shape: stratum token totals are one tiny aggregate (|langs|
    * rows) broadcast back; the gate itself is a pure per-row filter. All
    * arithmetic on the rate is IEEE double over exact integers in a fixed
    * association order, so both engines compute identical rates; the
    * per-row gate is the integer LCG. (At 10^12-doc scale the products
    * approach Long range — the doubles here absorb that safely since the
    * final floor lands in [0, 1000].)
    */
  def mixture(docs: DataFrame, targets: Map[String, Int]): DataFrame = {
    val w = targets.foldLeft(lit(0).cast("long"): Column) {
      case (acc, (k, v)) => when(col("lang") === k, lit(v.toLong)).otherwise(acc)
    }
    // a targeted stratum with ZERO tokens is excluded outright: it cannot
    // anchor (0/0 rates) and has nothing to keep — its (all-empty) docs
    // drop out via the inner rate join, on both engines
    val totals = docs
      .select(col("lang"), size(graft.text.TextAnalysis.tokens(col("text")))
        .cast("long").as("n_tokens"))
      .groupBy("lang").agg(sum("n_tokens").as("t_l"))
      .withColumn("w_l", w)
      .filter(col("w_l") > 0 && col("t_l") > 0)
    // anchor stratum m = argmin T_l / w_l (exact-integer IEEE division;
    // deterministic tie-break on lang)
    val anchor = totals
      .withColumn("ratio", col("t_l").cast("double") / col("w_l").cast("double"))
      .orderBy(col("ratio"), col("lang")).limit(1)
      .select(col("t_l").as("t_m"), col("w_l").as("w_m"))
    val rates = totals.crossJoin(broadcast(anchor))
      .select(col("lang"),
        least(lit(1000L),
          floor(lit(1000.0) * col("w_l").cast("double") * col("t_m").cast("double")
            / (col("w_m").cast("double") * col("t_l").cast("double"))).cast("long"))
          .as("keep_permille"))
    docs.join(broadcast(rates), Seq("lang"), "inner")
      .select(col("doc_id"), col("lang"), col("keep_permille"),
        when(gatePermille(col("doc_id")) < col("keep_permille"), lit(1L))
          .otherwise(lit(0L)).as("kept"))
  }

  /** Temperature-scaled mixture apportionment — the "how many rows from
    * each source" step of a pretraining data recipe (τ-sampling, as in
    * multilingual/multi-source training: raw proportions at τ=1 drown the
    * small sources, uniform at τ=0 overfits them; τ=0.5 — weights
    * proportional to √count — is the standard compromise). Given a total
    * row `budget`, emit each source's exact integer allocation.
    *
    * The rounding is Hamilton largest-remainder apportionment, so the
    * allocations sum to EXACTLY `budget` (floor shares first, then the
    * `budget − Σ floors` leftover units go to the largest remainders,
    * ties to the lexically-first source). All arithmetic is integer:
    * `weight = ⌊√n_docs⌋` (IEEE sqrt is exactly rounded, so the floor is
    * identical on every engine), `base = budget·w DIV Σw`,
    * `rem = budget·w MOD Σw`.
    *
    * Scale shape: one corpus-sized hash-agg down to per-source counts;
    * everything after — the Σw broadcast, the remainder ranking window —
    * runs on a |sources|-row frame. The unpartitioned rank window is a
    * single task over that aggregate-sized frame, never the corpus.
    * [[graft.text.CorpusOps.temperatureMixture]] is the share-level view
    * (permille proportions, no budget); this is the allocation step that
    * turns those shares into exact integer row counts. */
  def mixturePlan(docs: DataFrame, budget: Long = 1000L): DataFrame = {
    // the corpus-sized count agg runs once: the Σw total, the shares and
    // the leftover all read this |sources|-row frame through its exchange
    val w = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("weight", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
    val tot = w.agg(sum("weight").as("w_tot"))
    val shares = w.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"${budget}L * weight DIV w_tot"))
      .withColumn("rem", expr(s"${budget}L * weight % w_tot"))
    val leftover = shares.agg((lit(budget) - sum("base")).as("k"))
    val rk = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc, col("source"))
    shares.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(rk).cast("long"))
      .withColumn("target_rows",
        col("base") + when(col("rk") <= col("k"), 1L).otherwise(0L))
      .select("source", "n_docs", "weight", "base", "rem", "target_rows")
  }

  /** WATER-FILLING (max-min fair) budget allocation under per-source
    * availability caps — the feasibility-respecting complement of
    * [[mixturePlan]], which allocates proportionally and can assign a
    * tiny source more rows than it has. Here every source gets
    * min(cap, t) with the water level t chosen so allocations sum to
    * EXACTLY min(budget, Σcap): scarce sources are taken whole, abundant
    * ones equalized — the standard fair-share answer to "fill an epoch's
    * budget without over-promising any source".
    *
    * Closed form on the aggregate, no iteration: sort sources by
    * (cap, source) ascending with prefix sums; r* = max rank whose
    * source still fits fully (prefix(r−1) + cap·(n−r+1) ≤ budget);
    * t = (budget − prefix(r*)) DIV (n − r*), with the MOD remainder
    * distributed +1 to the lexically-first uncapped sources — all
    * integer, deterministic, and t+1 ≤ every uncapped cap by the
    * maximality of r*. Σcap ≤ budget degenerates to everyone-capped
    * with the surplus reported in `unused`.
    *
    * Scale shape: ONE corpus-sized hash-agg to per-source caps;
    * the sort window, prefix sums, and the r-star/level arithmetic all
    * run on the |sources|-row aggregate (single-task windows over an
    * aggregate, never the corpus). */
  def waterFill(docs: DataFrame, budget: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val caps = docs.groupBy("source").agg(count(lit(1)).as("cap"))
    val tot = caps.agg(count(lit(1)).as("n"), sum("cap").as("c_tot"))
    val wAsc = Window.orderBy(col("cap").asc, col("source").asc)
    val ranked = caps.crossJoin(broadcast(tot))
      .withColumn("r", row_number().over(wAsc).cast("long"))
      .withColumn("pfx", sum("cap").over(
        wAsc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sat",
        col("pfx") - col("cap") + col("cap") * (col("n") - col("r") + 1)
          <= budget || col("c_tot") <= budget)
    val star = ranked.agg(
      coalesce(max(when(col("sat"), col("r"))), lit(0L)).as("rstar"),
      coalesce(max(when(col("sat"), col("pfx"))), lit(0L)).as("pstar"))
    val base = ranked.crossJoin(broadcast(star))
      .withColumn("m", col("n") - col("rstar"))
      .withColumn("level",
        when(col("m") > 0, expr(s"(${budget}L - pstar) DIV m"))
          .otherwise(lit(null).cast("long")))
      .withColumn("rem",
        when(col("m") > 0, expr(s"(${budget}L - pstar) % m")).otherwise(0L))
      .withColumn("unused", greatest(lit(0L), lit(budget) - col("c_tot")))
    val wSrc = Window.orderBy("source")
    val uncapped = base.filter(col("r") > col("rstar"))
      .withColumn("rk2", row_number().over(wSrc).cast("long"))
      .withColumn("alloc",
        col("level") + when(col("rk2") <= col("rem"), 1L).otherwise(0L))
      .withColumn("capped", lit(false))
    val capped = base.filter(col("r") <= col("rstar"))
      .withColumn("alloc", col("cap"))
      .withColumn("capped", lit(true))
    capped.select("source", "cap", "alloc", "capped", "level", "unused")
      .unionByName(uncapped
        .select("source", "cap", "alloc", "capped", "level", "unused"))
  }

  /** Materialize a [[mixturePlan]]: per source, admit the `target_rows`
    * docs with the smallest deterministic hash gate (ties by doc_id) —
    * the same rows on every run at any parallelism. One window shuffle
    * keyed on source; a source hot enough to overwhelm one sort task can
    * switch to the gate-threshold form (admit by percentile cut off a
    * pre-aggregated count) at the cost of approximate quota. */
  def mixtureSample(docs: DataFrame, budget: Long = 1000L): DataFrame = {
    val plan = mixturePlan(docs, budget).select("source", "target_rows")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
      .orderBy(col("gate"), col("doc_id"))
    docs.join(broadcast(plan), Seq("source"))
      .withColumn("gate", gatePermille(col("doc_id")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= col("target_rows"))
      .select(col("doc_id"), col("source"), col("gate"), col("rk"))
  }

  /** Embedding-CLUSTER-balanced sampling — the semantic complement of the
    * source-keyed mixture: assign every vector to its IVF cell, give each
    * cell a τ=0.5 (√size) Hamilton-apportioned share of the budget, admit
    * per-cell smallest-gate rows. Where [[mixtureSample]] rebalances
    * by PROVENANCE, this rebalances by CONTENT — a corpus that is 90% one
    * topic keeps at most √-proportionally more of it, the standard
    * cluster-balanced data-selection step after embedding the corpus.
    *
    * Scale shape: the cell assignment is [[graft.ann.Similarity.ivfAssign]]'s
    * broadcast n×k scan (no shuffle of the vectors); the plan is a
    * |cells|-row aggregate; admission is ONE cell-keyed window over the
    * narrow (vec_id, cell) projection. Exactly `budget` rows come back. */
  def clusterBalancedSample(vecs: DataFrame, budget: Long = 100L,
                            centroidMod: Int = 200): DataFrame = {
    val assigned = graft.ann.Similarity.ivfAssign(vecs, centroidMod)
      .select(col("vec_id").as("doc_id"),
        col("cent_id").cast("string").as("source"))
    mixtureSample(assigned, budget)
      .select(col("doc_id").as("vec_id"), col("source").as("cell"),
        col("gate"), col("rk"))
  }

  /** Keep a row iff its gate falls under the stratum's permille rate. */
  def stratified(docs: DataFrame, rates: Map[String, Int],
                 defaultPermille: Int = 100): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPermille).cast("long"): Column) {
      case (acc, (k, v)) => when(col("lang") === k, lit(v.toLong)).otherwise(acc)
    }
    docs
      .withColumn("sample_gate", gatePermille(col("doc_id")))
      .filter(col("sample_gate") < rate)
      .select(col("doc_id"), col("lang"), col("sample_gate"))
  }

  /** Leakage-safe train/val/test split: the assignment gate hashes the
    * CONTENT key (exact-dup normalization, [[graft.dedup.Dedup.exactKeyHash]])
    * instead of the doc id, so every copy of the same text lands in the
    * SAME split by construction — the eval-set hygiene [[split]]'s
    * id-gate cannot give (a duplicated document crossing train→val
    * inflates eval scores exactly like benchmark contamination). Each
    * row also carries the audit evidence: its id-gate split, the size of
    * its exact-dup cluster, and whether the id gate TORE that cluster
    * across splits (`naive_torn` — the leaks this operator closes;
    * singleton clusters can never tear).
    *
    * Scale shape: key + both gates are map-side expressions off the scan;
    * ONE exchange on the 32-char key (the exact-dedup shuffle) carries
    * (doc_id, key, 2 small labels) — the text never shuffles. The
    * cluster audit is a window on that narrow frame. */
  /** Poisson(1) inverse-CDF thresholds in micro-units (cumulative
    * P(X<=k) * 1e6, floored), for the bootstrap weight ladder. The table
    * is computed ONCE here and rendered into BOTH the Spark CASE ladder
    * and the DuckDB oracle (the [[Governance.dpNoiseCdfMicro]] pattern),
    * so weight parity across engines is by construction. Draws above the
    * last threshold take weight capK (P ≈ 8e-5 at capK=7 — negligible
    * bias, bounded fanout). */
  def bootWeightCdfMicro(capK: Int = 7): Seq[(Int, Long)] = {
    val pmf = (0 until capK).scanLeft(math.exp(-1.0)) {
      case (p, k) => p / (k + 1.0)
    }.take(capK)
    val cum = pmf.scanLeft(0.0)(_ + _).tail
    (0 until capK).zip(cum.map(c => math.floor(c * 1000000.0).toLong))
  }

  /** Poisson-bootstrap confidence interval for a corpus metric (mean
    * stopword permille — the corpus-quality headline number): each of
    * `reps` replicates re-weights every document by an independent
    * Poisson(1) draw, the replicate means form the sampling distribution,
    * and the (loRank, hiRank) order statistics are the ~95% CI — the
    * error bar a corpus-stats report should carry before anyone compares
    * two pipeline versions on a point estimate. Poisson bootstrap IS the
    * distributed form of the classic resample-n-of-n bootstrap: weights
    * are per-row independent, so no global resampling pass exists.
    *
    * Determinism: the per-(doc, replicate) uniform is a salted md5 (same
    * on any engine/partitioning) pushed through the shared
    * [[bootWeightCdfMicro]] ladder; replicate means are exact-integer
    * sums divided once at the end, so the order statistics are
    * bit-stable. Output: one row per replicate (n_eff, sum_stop,
    * mean_stop) with the corpus-wide ci_lo/ci_hi repeated on each row.
    *
    * Scale shape: the corpus is read ONCE; the `reps`-way fanout happens
    * on a (doc_id, stop_permille) 2-int projection and partial-aggregates
    * map-side into a `reps`-row frame, so the shuffle carries ~reps rows
    * per task. The rank window runs on the `reps`-row aggregate. */
  def bootstrapCI(docs: DataFrame, reps: Int = 64,
                  salt: String = "graft-boot"): DataFrame = {
    val qc = graft.text.TextAnalysis.qualityColumns(col("text"))
    val fan = docs
      .select(col("doc_id"), qc("stop_permille").as("sp"))
      .withColumn("rep", explode(sequence(lit(0L), lit(reps - 1L))))
    val u = conv(substring(md5(concat_ws("|",
      col("doc_id"), col("rep"), lit(salt))), 1, 8), 16, 10)
      .cast("long") % 1000000L
    val w = bootWeightCdfMicro().foldRight(lit(7L).cast("long")) {
      case ((k, thr), acc) => when(u < thr, lit(k.toLong)).otherwise(acc)
    }
    val loRank = (0.025 * reps).toInt + 1  // 2 at reps=64
    val hiRank = reps - loRank + 1         // 63 at reps=64
    val byMean = org.apache.spark.sql.expressions.Window
      .orderBy(col("mean_stop"), col("rep"))
    val all = byMean.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    fan.withColumn("w", w)
      .groupBy("rep")
      .agg(sum(col("w")).as("n_eff"),
        sum(col("w") * col("sp")).as("sum_stop"))
      .withColumn("mean_stop",
        col("sum_stop").cast("double") / col("n_eff"))
      .withColumn("rk", row_number().over(byMean))
      .withColumn("ci_lo",
        max(when(col("rk") === loRank, col("mean_stop"))).over(all))
      .withColumn("ci_hi",
        max(when(col("rk") === hiRank, col("mean_stop"))).over(all))
      .select("rep", "n_eff", "sum_stop", "mean_stop", "ci_lo", "ci_hi")
  }

  def leakSafeSplit(docs: DataFrame, valPermille: Int = 100,
                    testPermille: Int = 100): DataFrame = {
    def label(g: Column): Column =
      when(g < valPermille, "val")
        .when(g < valPermille + testPermille, "test")
        .otherwise("train")
    val narrow = docs.select(
      col("doc_id"),
      graft.dedup.Dedup.exactKeyHash(col("text")).as("ckey"),
      label(gatePermille(col("doc_id"))).as("naive_split"))
    val keyGate =
      conv(substring(col("ckey"), 1, 8), 16, 10).cast("long") % 1000L
    val w = org.apache.spark.sql.expressions.Window.partitionBy("ckey")
    narrow
      .withColumn("split", label(keyGate))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("naive_torn",
        size(collect_set(col("naive_split")).over(w)) > 1)
      .select("doc_id", "split", "naive_split", "cluster_size", "naive_torn")
  }
}
