package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  *  - Brute-force top-k: broadcast the (small) query set against the full
  *    vector table — one pass, no shuffle on the big side; per-query top-k
  *    via window over the candidate rows. The baseline.
  *  - LSH bucketing (random hyperplanes with deterministic integer
  *    components): the scale path — bucket once (narrow, per-row), then
  *    search only within buckets; at 100 TB the bucket id becomes the
  *    partition/cluster key.
  *
  * All dot products are computed in double via zip_with+aggregate in list
  * order, so engines agree bit-for-bit.
  */
object Similarity {

  /** Σ a_i · b_i in double, sequential list order — the fused
    * [[VecDotExpr]] kernel (round-5: the HOF chain it replaces evaluated
    * interpreted outside every codegen span; same fold order, same bits —
    * see the SEMANTICS CONTRACT there and VecDotParity). */
  def dot(a: Column, b: Column): Column = VecDot.dotFused(a, b)

  /** The declarative higher-order-function twin of [[dot]], kept as the
    * A/B semantics reference the parity spec pins the fused kernel to. */
  def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused one-pass cosine ([[VecCosExpr]], round-5): the composed form
    * below spends three [[VecDot]] traversals per pair; the fused kernel
    * folds all three sums in one ascending loop — same fold order, same
    * bits (see the SEMANTICS CONTRACT there, incl. the non-ANSI
    * zero-denominator → null parity). VecCosParity pins the two equal. */
  def cosine(a: Column, b: Column): Column = VecCos.cosFused(a, b)

  /** The composed declarative twin of [[cosine]], kept as the A/B
    * semantics reference the parity spec pins the fused kernel to. */
  def cosineDeclarative(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: query set = vec_id % queryMod == 0. */
  def bruteTopK(vecs: DataFrame, k: Int = 5, queryMod: Int = 50): DataFrame = {
    val q = vecs.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val joined = vecs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** RECIPROCAL (mutual) nearest-neighbour pairs on the sampled eval
    * subset — the high-precision pairing rule: (a, b) matches only when
    * b is in a's top-k AND a is in b's. One-sided kNN lists are
    * asymmetric around hubs (a hub is everyone's neighbour while its
    * own list holds only other hubs), and mutuality is the standard
    * cheap filter that kills hub-induced false pairs before any
    * expensive verification. Subset-bounded BY DESIGN (the q219
    * eval-harness convention); the production path composes
    * [[bucketedTopK]] lists through the same reciprocity join.
    *
    * Shape: one kNN pass over the sample, then a self equi-join of the
    * (queries×k)-sized list on the flipped pair — aggregate-scale. */
  def mutualTopK(vecs: DataFrame, k: Int = 5,
                 sampleMod: Int = 10): DataFrame = {
    val sub = vecs.filter(col("vec_id") % sampleMod === 0)
    val knn = bruteTopK(sub, k, queryMod = 1)
      .select(col("q_id"), col("neighbor_id"), col("rank").cast("long"))
    val a = knn.select(col("q_id").as("id_a"),
      col("neighbor_id").as("id_b"), col("rank").as("rank_ab"))
    val b = knn.select(col("neighbor_id").as("id_a"),
      col("q_id").as("id_b"), col("rank").as("rank_ba"))
    a.join(b, Seq("id_a", "id_b")).filter(col("id_a") < col("id_b"))
  }

  /** MATRYOSHKA-style prefix-dimension recall audit: how much ANN
    * quality survives truncating embeddings to their first `prefixDim`
    * components? Per query, the overlap between top-k under full-dim
    * cosine and top-k under prefix-dim cosine — the measured evidence
    * behind serving truncated vectors (4× memory/bandwidth at 16 of 64
    * dims) instead of trusting a training recipe's claim. Overlap@k
    * against the full ranking is the metric because the full list IS
    * the ground truth here.
    *
    * Shape: two sample-bounded brute passes ([[bruteTopK]]'s broadcast
    * query set — the EVAL-harness shape, like q110's recall, never the
    * serving path) and a queries×k join; prefix truncation is a
    * map-only `slice`. */
  def prefixDimRecall(vecs: DataFrame, k: Int = 5, queryMod: Int = 50,
                      prefixDim: Int = 16): DataFrame = {
    val full = bruteTopK(vecs, k, queryMod)
    val pref = bruteTopK(
      vecs.withColumn("embedding", slice(col("embedding"), 1, prefixDim)),
      k, queryMod)
    full.join(pref.select(col("q_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("q_id", "neighbor_id"), "left")
      .groupBy("q_id").agg(
        count(lit(1)).as("k_full"),
        sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      // normalize by the ACTUAL full-ranking list length, not the k cap:
      // a query with < k neighbors in the corpus can still score a
      // perfect 1000 permille (scale-free in list length)
      .withColumn("overlap_permille", expr("n_overlap * 1000 DIV k_full"))
  }

  // ---- LSH: deterministic integer hyperplanes --------------------------------
  val NumPlanes = 8
  /** Hyperplane i component j = ((i*131 + j*31) mod 7) - 3 ∈ [-3, 3]. */
  def planeComponents(i: Int, dim: Int): Seq[Int] =
    (0 until dim).map(j => ((i * 131 + j * 31) % 7) - 3)

  /** Sign-bucket id over NumPlanes hyperplanes (dim inferred statically). */
  def lshBucket(emb: Column, dim: Int): Column =
    (0 until NumPlanes).map { i =>
      val plane = array(planeComponents(i, dim).map(v => lit(v.toDouble)): _*)
      when(dot(emb, plane) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  def buckets(vecs: DataFrame, dim: Int = 64): DataFrame =
    vecs.select(col("vec_id"), lshBucket(col("embedding"), dim).as("bucket"))

  /** Bucketed ANN: search only within the query's bucket — the scale path.
    * Recall is partial by construction; callers union multi-probe buckets
    * when recall matters. */
  def bucketedTopK(vecs: DataFrame, k: Int = 5, queryMod: Int = 50, dim: Int = 64): DataFrame = {
    val withB = vecs.withColumn("bucket", lshBucket(col("embedding"), dim))
    val q = withB.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("bucket"))
    val joined = withB.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"))
  }

  /** HARD-NEGATIVE mining for contrastive/embedding training: per anchor,
    * the top-k candidates inside a cosine BAND [lo, hi) — similar enough
    * to be informative gradients, below the near-duplicate line so they
    * are not false negatives (the standard retrieval-training recipe:
    * random negatives are too easy, near-dups are actually positives).
    *
    * Scale shape: identical to [[bucketedTopK]] — the anchor set rides a
    * broadcast, candidates come from the LSH sign-bucket equi-join (the
    * corpus never self-joins), and the per-anchor band filter + rank
    * window run on the collided sliver. The band is compared in floored
    * permille so both engines agree bit-for-bit. */
  def hardNegatives(vecs: DataFrame, k: Int = 5, queryMod: Int = 50,
                    loPermille: Int = 100, hiPermille: Int = 900,
                    dim: Int = 64): DataFrame = {
    val withB = vecs.withColumn("bucket", lshBucket(col("embedding"), dim))
    val q = withB.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bucket"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cos_permille").desc, col("vec_id"))
    withB.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_permille",
        floor(cosine(col("q_emb"), col("embedding")) * 1000.0).cast("long"))
      .filter(col("cos_permille") >= loPermille &&
        col("cos_permille") < hiPermille)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("negative_id"),
        col("cos_permille"), col("rank"))
  }

  /** Recall@k of the bucketed scale path against the brute-force ground
    * truth — the diagnostic every approximate index needs before it
    * replaces the exact one: per query, how many of the true top-k the
    * bucket probe found. Runs both plans over the SAME query set and
    * semi-joins on (q_id, neighbor); both sides are query-set-sized, so
    * the comparison itself is free at any corpus scale (the cost is the
    * two searches). */
  def recallAtK(vecs: DataFrame, k: Int = 5, queryMod: Int = 50,
                dim: Int = 64): DataFrame = {
    val exact = bruteTopK(vecs, k, queryMod).select("q_id", "neighbor_id")
    val approx = bucketedTopK(vecs, k, queryMod, dim).select("q_id", "neighbor_id")
    val hits = exact.join(approx, Seq("q_id", "neighbor_id"), "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("q_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), col("n_exact"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_permille",
        floor(col("n_hits") * lit(1000.0) / col("n_exact")).cast("long"))
  }

  // ---- IVF: inverted-file coarse quantizer -----------------------------------

  /** Deterministic coarse centroids: a fixed modulus sample of the vectors
    * themselves (real IVF trains k-means; the partitioning structure — a
    * small broadcast centroid set + nearest-cell assignment — is identical
    * and deterministic for the oracle). */
  def ivfCentroids(vecs: DataFrame, centroidMod: Int = 200): DataFrame =
    vecs.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cent_emb"))

  /** IVF assignment: nearest centroid per vector via a broadcast n×k pass
    * + partial-aggregated max_by — the shuffle carries ONE row per vector
    * (map-side partial collapses the k candidates before the exchange), so
    * at 100 TB this is a single linear shuffle keyed on vec_id and the
    * cell id becomes the storage/partition key of the inverted lists.
    * Ties break toward the smaller centroid id (the -cent_id score leg). */
  def ivfAssign(vecs: DataFrame, centroidMod: Int = 200): DataFrame =
    assignWith(vecs, ivfCentroids(vecs, centroidMod))

  /** Assignment against an EXPLICIT (broadcast) centroid frame — the
    * piece incremental maintenance needs: a delta batch must assign
    * against the BASE index's centroids, never its own.
    *
    * Exact-clone collapse on BOTH sides (round-4 sf-scaling finding):
    * identical embeddings share every cosine, so the n×k scoring pass
    * runs once per DISTINCT vector against once per DISTINCT centroid
    * embedding — on a corpus with clone multiplicity m the FP work drops
    * m² (clone-staged sf1 measured the uncollapsed pass at 100×). The
    * original tie-break (max cosine, then LOWEST cent_id) is preserved
    * exactly: centroids with identical embeddings all achieve the tied
    * best cosine together, so the global min id over the tied set equals
    * the min over the per-embedding group minima — which is what keeping
    * `min(cent_id)` per distinct centroid embedding computes.
    *
    * Clone membership stays ROW-shaped (round-5): the per-distinct-vector
    * verdict joins back onto the member rows on the embedding key, so a
    * degenerate clone group (zero vector, embedding-of-empty-string) of
    * 10⁷–10⁹ members is 10⁹ narrow rows across tasks — never one
    * collect_list array row brushing the 2 GiB limit. */
  def assignWith(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val centG = cents.groupBy(col("cent_emb"))
      .agg(min(col("cent_id")).as("cent_id"))
    val best = vecs.select(col("embedding")).distinct()
      .crossJoin(broadcast(centG))
      .withColumn("_score", struct(
        cosine(col("embedding"), col("cent_emb")).as("cos"),
        (-col("cent_id")).cast("double").as("nid")))
      .groupBy(col("embedding"))
      .agg(max_by(col("cent_id"), col("_score")).as("cent_id"))
    vecs.select(col("vec_id"), col("embedding"))
      .join(best, Seq("embedding"))
      .select(col("vec_id"), col("cent_id"), col("embedding"))
  }

  /** INCREMENTAL IVF index maintenance — the ANN twin of q246's
    * incremental-view contract: per-cell state (vector count, per-dim
    * milli-quantized component sums) folded with a DELTA batch equals
    * the full rebuild bit for bit, so the base corpus never re-scans
    * when new vectors land. Both sides assign against the SAME (base)
    * centroids; the merge is a full-outer sum on the |cells|×dims grid.
    * The summed state is exactly what a centroid retrain consumes
    * (mean = sum DIV n), so this fold IS the streaming path to periodic
    * re-training.
    *
    * Shape: delta assignment is the broadcast n×k pass over the DELTA
    * only; both aggregations are (cell, dim)-grid-sized; the output
    * rebuilds per-cell sum arrays with the ordered-collect convention. */
  def ivfRefresh(base: DataFrame, delta: DataFrame,
                 centroidMod: Int = 200,
                 centroidSource: Option[DataFrame] = None): DataFrame = {
    val cents = ivfCentroids(centroidSource.getOrElse(base), centroidMod)
    def sums(v: DataFrame) = assignWith(v, cents)
      .select(col("cent_id"), posexplode(transform(col("embedding"),
        x => floor(x.cast("double") * 1000.0).cast("long")))
        .as(Seq("d", "q")))
      .groupBy("cent_id", "d")
      .agg(count(lit(1)).as("nd"), sum("q").as("sq"))
    val merged = sums(base)
      .select(col("cent_id"), col("d"), col("nd").as("n1"),
        col("sq").as("s1"))
      .join(sums(delta)
        .select(col("cent_id"), col("d"), col("nd").as("n2"),
          col("sq").as("s2")),
        Seq("cent_id", "d"), "full_outer")
      .select(col("cent_id"), col("d"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L)))
          .as("n"),
        (coalesce(col("s1"), lit(0L)) + coalesce(col("s2"), lit(0L)))
          .as("sq"))
    merged.groupBy("cent_id").agg(
      max("n").as("n_vecs"),
      array_join(transform(array_sort(collect_list(
        struct(col("d"), col("sq")))), t => t("sq").cast("string")), "|")
        .as("sums"))
  }

  /** IVF cell-BALANCE audit — the index-health report run after every
    * (re)build: per non-empty cell its vector count and corpus share,
    * plus the global imbalance factor (max cell ÷ mean cell, ×1000) and a
    * hot flag at 2× fair share. A skewed IVF index serves its hottest
    * cell at list-scan latency and wastes the rest — this is the signal
    * to retrain centroids or split cells, and the ANN twin of the shuffle
    * preview `partitionSkewStats`. Empty cells don't appear (no rows to
    * report them by — their count is n_centroids − rows here).
    *
    * Shape: [[ivfAssign]]'s one linear pass, then a cell-count hash-agg;
    * everything after runs on the |cells|-row frame with a 1-row
    * broadcast of the totals. */
  def ivfCellStats(vecs: DataFrame, centroidMod: Int = 200): DataFrame = {
    val cells = ivfAssign(vecs, centroidMod)
      .groupBy("cent_id").agg(count(lit(1)).as("n_vecs"))
    val tot = cells.agg(sum("n_vecs").as("t"),
      count(lit(1)).as("n_cells"), max("n_vecs").as("max_n"))
    cells.crossJoin(broadcast(tot))
      .withColumn("share_permille", expr("n_vecs * 1000 DIV t"))
      .withColumn("imbalance_x1e3", expr("max_n * n_cells * 1000 DIV t"))
      .withColumn("hot", expr("n_vecs * n_cells > 2 * t"))
      .select("cent_id", "n_vecs", "share_permille", "imbalance_x1e3", "hot")
  }

  /** IVF separation margin — the silhouette-style assignment-quality
    * audit: per vector, the cosine gap between its own centroid and the
    * best FOREIGN centroid (margin ≥ 0 by construction since assignment
    * is argmax), rolled up per cell as mean margin and the share of
    * "tight" vectors sitting within 0.05 cosine of a foreign centroid.
    * ivfCellStats (q216) says whether cells are BALANCED; this says
    * whether they are SEPARATED — a balanced index whose vectors all sit
    * on cell borders still searches badly at nprobe=1, and a high tight
    * share is the signal to raise nprobe or retrain with more centroids.
    *
    * Per-vector margin is floor(1000·(cos_best − cos_second)) — one floor
    * over the double gap, so the per-cell sums/means stay integer-exact
    * for the oracle. Scale shape: ivfAssign's broadcast n×k pass, but the
    * per-vector top-2 collapses MAP-SIDE via a k-bounded collect+sort
    * (partial aggregation: each task reduces its k candidate rows before
    * the exchange carries one row per vector); the cell rollup is a
    * second hash-agg to a |cells|-row frame. No window over the n×k
    * frame, no join back. */
  def separationMargin(vecs: DataFrame, centroidMod: Int = 25,
                       tightX1e3: Long = 50L): DataFrame = {
    val cents = ivfCentroids(vecs, centroidMod)
    // Exact-clone collapse on both sides of the n×k scan (round-4
    // sf-scaling finding, same family as assignWith/ivfTopK): cosines
    // run once per (distinct vector, distinct centroid embedding). A
    // centroid group contributes at most its TWO lowest ids to any
    // top-2 (its members tie on cosine and the tiebreak is ascending
    // cent_id), so retaining per-group min-2 ids preserves the exact
    // top-2 — including the margin-0 case where a cloned centroid pairs
    // with itself. Members of a vector group share the top-2 verbatim —
    // reconstructed by an embedding-keyed JOIN onto the member rows
    // (round-5: no collect_list(vec_id), so a degenerate clone group
    // never materializes one giant array row). The collect_list that
    // remains is the per-distinct-vector candidate list — bounded by
    // 2·|centroid groups|, which is broadcast-small by construction.
    val centG = cents.groupBy(col("cent_emb"))
      .agg(slice(array_sort(collect_list(col("cent_id"))), 1, 2).as("cids"))
    val top2G = vecs.select(col("embedding")).distinct()
      .crossJoin(broadcast(centG))
      .withColumn("_cos", cosine(col("embedding"), col("cent_emb")))
      .select(col("embedding"),
        explode(transform(col("cids"), c =>
          struct(col("_cos").as("cos"), (-c).cast("double").as("nid"),
            c.as("cent_id")))).as("cand"))
      .groupBy(col("embedding"))
      .agg(slice(reverse(array_sort(collect_list(col("cand")))), 1, 2)
          .as("top2"))
      .filter(size(col("top2")) === 2)
    val top2 = vecs.select(col("vec_id"), col("embedding"))
      .join(top2G, Seq("embedding"))
      .select(col("vec_id"),
        col("top2")(0).getField("cent_id").as("cent_id"),
        floor((col("top2")(0).getField("cos")
          - col("top2")(1).getField("cos")) * 1000.0).cast("long")
          .as("margin_x1e3"))
    top2.groupBy("cent_id").agg(
        count(lit(1)).as("n_vecs"),
        sum("margin_x1e3").as("sum_margin"),
        sum(when(col("margin_x1e3") < tightX1e3, 1L).otherwise(0L))
          .as("n_tight"))
      .select(col("cent_id"), col("n_vecs"),
        expr("sum_margin DIV n_vecs").as("mean_margin_x1e3"),
        expr("n_tight * 1000 DIV n_vecs").as("tight_permille"))
  }

  /** IVF top-k: queries search only their own cell (nprobe=1; callers
    * union more cells for recall). Mirrors bucketedTopK with the cell id
    * as the equi-join key. */
  def ivfTopK(vecs: DataFrame, k: Int = 5, queryMod: Int = 50,
              centroidMod: Int = 200): DataFrame =
    cellTopK(ivfAssign(vecs, centroidMod), k, queryMod)

  /** In-cell top-k probe over an assigned (vec_id, cent_id, embedding)
    * frame, with exact-clone collapse (round-4 sf-scaling finding:
    * 0.72 → 41 s on 10× clone-staged input in the uncollapsed form):
    * cosines are per-(query-embedding, candidate-embedding), so score
    * GROUP pairs once, then materialize only the groups that can reach a
    * top-(k+1) rank — a candidate group with ≥ k+1 strictly-better
    * candidates ahead of it can never place a member in any query's top
    * k (one exclusion is the query itself), and equal-cosine groups at
    * the boundary are all kept, so the exploded superset provably
    * contains every true top-k row. The final row_number over (cos desc,
    * vec_id) re-ranks the superset exactly — same values, same tiebreak,
    * same output as the uncollapsed form. Shared by [[ivfTopK]] and
    * [[graft.ann.Centroids.ivfTopKTrained]].
    *
    * Clone membership stays ROW-shaped (round-5 de-materialization): the
    * group id is `min(vec_id)` over a (cent_id, embedding) window and
    * members re-attach to surviving groups by a gid equi-join, so a
    * degenerate clone group (10⁷+ copies of the zero vector) is that
    * many narrow rows across tasks, never one collect_list array row
    * brushing the 2 GiB limit. */
  private[graft] def cellTopK(assigned: DataFrame, k: Int,
                              queryMod: Int): DataFrame = {
    val wg = Window.partitionBy("cent_id", "embedding")
    val memRows = assigned.select(col("cent_id"), col("embedding"),
        col("vec_id"))
      .withColumn("gid", min(col("vec_id")).over(wg))
      .withColumn("m", count(lit(1)).over(wg))
    // one representative row per (cell, distinct embedding) group
    val g = memRows.filter(col("vec_id") === col("gid"))
      .select(col("cent_id"), col("embedding"), col("gid"), col("m"))
    // query groups: q_gid = the smallest QUALIFYING member id (the
    // pre-collapse convention); gid keys the group, vec_ids are unique,
    // so gid-partitioned windows reconstruct it exactly
    val qmem = memRows.filter(col("vec_id") % queryMod === 0)
      .withColumn("q_gid", min(col("vec_id")).over(Window.partitionBy("gid")))
    val qg = qmem.filter(col("vec_id") === col("q_gid"))
      .select(col("cent_id"), col("embedding").as("q_emb"), col("q_gid"))
    val qrows = qmem.select(col("q_gid"), col("vec_id").as("q_id"))
    val pairs = g.join(broadcast(qg), "cent_id")
      .withColumn("cos", cosine(col("q_emb"), col("embedding")))
    // candidates strictly better than this group, counted with a RANGE
    // frame (ties share the frame) minus this cosine level's own total
    val wRange = Window.partitionBy("q_gid").orderBy(col("cos").desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val wLevel = Window.partitionBy("q_gid", "cos")
    val included = pairs
      .withColumn("_cumGe", sum(col("m")).over(wRange))
      .withColumn("_lvl", sum(col("m")).over(wLevel))
      .filter(col("_cumGe") - col("_lvl") < k + 1)
    val cand = included.select(col("q_gid"), col("cos"), col("gid"))
      .join(memRows.select(col("gid"), col("vec_id").as("neighbor_id")),
        Seq("gid"))
    // cap the per-QUERY-GROUP candidate list at k+1 BEFORE fanning out to
    // the group's individual queries: every query in a group shares the
    // same embedding, so its top-k is a subset of the group's
    // (cos desc, id)-ranked top-(k+1) — at most one row (the query
    // itself) is ever excluded. Without the cap a clone group holding m
    // queries joins m queries × its retained candidates' m' members into
    // an m·m' intermediate; with it the fan-out is m·(k+1).
    val wq2 = Window.partitionBy("q_gid").orderBy(col("cos").desc,
      col("neighbor_id"))
    val candTop = cand.withColumn("grank", row_number().over(wq2))
      .filter(col("grank") <= k + 1)
      .drop("grank")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc,
      col("neighbor_id"))
    candTop.join(qrows, "q_gid")
      .filter(col("neighbor_id") =!= col("q_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), col("rank"))
  }

  /** Embedding-cosine near-dup pairs above a permille threshold, found by
    * a multi-probe LSH-bucketed EQUI-join — the scale path (mirrors
    * `Dedup.lshCandidates`' banding shape). Each left row probes its own
    * bucket plus every hamming-distance-1 bucket (9 probes over
    * `NumPlanes`=8 planes), so candidate pairs are exactly those whose
    * sign-buckets differ in at most one plane; cosine runs only on
    * candidates. Every surviving pair matches exactly ONE probe mask
    * (mask = bucket_a XOR bucket_b), so no distinct pass is needed.
    *
    * At 100 TB this is a shuffle keyed on the bucket id (the left side is
    * 9× via explode — still linear); no cartesian product, no broadcast of
    * the big side, hot buckets bounded by AQE skew handling. Recall is
    * approximate by construction (pairs >1 plane apart are missed) — that
    * IS the operator's contract; raise NumPlanes probes for higher recall.
    * Output is integer permille so engines hash-match. */
  def nearDupPairs(vecs: DataFrame, thresholdPermille: Int = 450,
                   dim: Int = 64): DataFrame = {
    val withB = vecs.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding"), dim).as("bucket"))
    val probeArr = array(
      col("bucket") +: (0 until NumPlanes).map(i =>
        col("bucket").bitwiseXOR(lit(1L << i))): _*)
    val l = withB.select(col("vec_id").as("id_a"),
      col("embedding").as("e_a"), explode(probeArr).as("probe"))
    val r = withB.select(col("vec_id").as("id_b"),
      col("embedding").as("e_b"), col("bucket").as("bucket_b"))
    l.join(r, col("probe") === col("bucket_b") && col("id_a") < col("id_b"))
      .withColumn("cos_permille",
        floor(cosine(col("e_a"), col("e_b")) * 1000.0).cast("long"))
      .filter(col("cos_permille") >= thresholdPermille)
      .select("id_a", "id_b", "cos_permille")
  }

  /** [[nearDupPairs]] with exact-clone collapse — IDENTICAL output (same
    * pairs, same permille values), different cost shape for raw corpora
    * where identical embeddings repeat: the LSH probe + cosine runs once
    * per DISTINCT embedding pair, and member pairs are expanded only at
    * OUTPUT (two gid equi-joins), so a clone multiplicity of m costs m²
    * only in rows EMITTED — which the pair contract already implies —
    * never in FP work or probe-join candidates. Exactness: clones share
    * their bucket, so a member pair matches the hamming≤1 probe iff its
    * representative pair does; within-group pairs always share a bucket
    * and carry the group's self-cosine through the same floored-permille
    * formula. [[semanticDedup]] keeps calling the plain form on its
    * already-distinct representative set (collapsing there is a no-op
    * that would only add exchanges). */
  def nearDupPairsCollapsed(vecs: DataFrame, thresholdPermille: Int = 450,
                            dim: Int = 64): DataFrame = {
    // group frame + member rows (round-5 row-shaped convention: no
    // collect_list member arrays anywhere); persisted because it feeds
    // the probe, both expansion joins, and the within-group leg; the
    // cache lives until `unpersist` or `clearCache` (as TfIdf.topTerms'
    // `tf` does)
    val gmK = vecs.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("gid"), count(lit(1)).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val memRows = vecs.select(col("vec_id"), col("embedding"))
      .join(gmK.select(col("embedding"), col("gid")), Seq("embedding"))
      .select(col("gid"), col("vec_id"))
    val repPairs = nearDupPairs(
      gmK.select(col("gid").as("vec_id"), col("embedding")),
      thresholdPermille, dim)
    val cross = repPairs
      .join(memRows.select(col("gid").as("id_a"), col("vec_id").as("ma")),
        "id_a")
      .join(memRows.select(col("gid").as("id_b"), col("vec_id").as("mb")),
        "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("cos_permille"))
    val within = gmK.filter(col("m") > 1)
      .withColumn("cos_permille",
        floor(cosine(col("embedding"), col("embedding")) * 1000.0)
          .cast("long"))
      .filter(col("cos_permille") >= thresholdPermille)
      .select(col("gid"), col("cos_permille"))
      .join(memRows.select(col("gid"), col("vec_id").as("id_a")), "gid")
      .join(memRows.select(col("gid"), col("vec_id").as("id_b")), "gid")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("cos_permille"))
    cross.unionByName(within)
  }

  /** SemDeDup-style semantic dedup VERDICT (Abbas et al. 2023): a vector
    * is dropped when any smaller-id vector sits within the cosine
    * threshold — the per-document keep/drop decision derived from
    * [[nearDupPairs]]' scale-safe candidate set (multi-probe LSH equi-join,
    * no cartesian). Greedy-by-id transitive approximation: in a chain
    * a<b<c with only (a,b) and (b,c) similar, both b and c drop — the
    * standard one-pass trade (exact clustering needs connected
    * components, which [[graft.operators.Bucketing]] covers separately).
    *
    * Output per vector: kept flag, how many dominating near-dups exist,
    * and the smallest dominating id (null when kept). */
  def semanticDedup(vecs: DataFrame, thresholdPermille: Int = 450,
                    dim: Int = 64): DataFrame = {
    // Exact-clone collapse first — the production dedup order (exact
    // before near): identical embeddings share their bucket AND every
    // cosine, so the LSH probe + cosine work runs on one REPRESENTATIVE
    // per distinct vector and the clone multiplicity never enters the
    // quadratic candidate space. Without this, a clique of m clones in a
    // bucket of size B costs O((mB)²) pairwise cosines — the round-4
    // sf-scaling table measured 6.6 s → 801 s (120× on 10× input) on the
    // clone-staged sf1 corpus; with it, the FP work is O(B²) group pairs
    // and the clone dimension is handled by COUNTING, not enumeration.
    //
    // Round-5 de-materialization: membership stays ROW-shaped — the
    // group frame gmK carries only (embedding, gid), never a
    // collect_list(vec_id) array, and members re-attach by an
    // embedding-keyed join. A degenerate clone group (the zero vector,
    // embedding-of-empty-string, a quantized collision) with 10⁷–10⁹
    // members is that many narrow rows spread across tasks; the array
    // form was one multi-GB row that would hit the 2 GiB limit long
    // before the quadratic it replaced. gmK feeds five plan legs (both
    // sides of nearDupPairs' probe, selfSim, and the member join), so it
    // persists; the cache lives until `unpersist` or `clearCache` (as
    // TfIdf.topTerms' `tf` does).
    val gmK = vecs.groupBy(col("embedding"))
      .agg(min(col("vec_id")).as("gid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val reps = gmK.select(col("gid").as("vec_id"), col("embedding"))
    val simPairs = nearDupPairs(reps, thresholdPermille, dim)
    // within-group similarity: cosine(v, v) through the SAME permille
    // formula (bit-identical arrays ⇒ bit-identical value), so the
    // verdict matches the pre-collapse form even if FP self-cosine lands
    // under the threshold
    val selfSim = gmK.filter(
      floor(cosine(col("embedding"), col("embedding")) * 1000.0)
        .cast("long") >= thresholdPermille)
      .select(col("gid").as("tgt"), col("gid").as("src"))
    val memRows = vecs.select(col("vec_id"), col("embedding"))
      .join(gmK, Seq("embedding"))
    // Dominator reconstruction without member-pair enumeration: a member
    // b of group g is dominated by EVERY id < b among the members of
    // similar groups (and of g itself when self-similar). Stream each
    // target group's member rows (tag 0) and dominator-candidate rows
    // (tag 1) through ONE per-group window ordered by (id, tag): the
    // running tag-1 count/min at each member row IS (n_dominating,
    // min_dominator) — tag 0 before tag 1 at equal id keeps b from
    // dominating itself. O(n log n) per group, fully parallel across
    // groups, vs O(members²) pairs.
    val dirs = simPairs.select(col("id_b").as("tgt"), col("id_a").as("src"))
      .unionByName(simPairs.select(col("id_a").as("tgt"), col("id_b").as("src")))
      .unionByName(selfSim)
    val rRows = dirs
      .join(memRows.select(col("gid").as("src"), col("vec_id").as("id")),
        "src")
      .select(col("tgt"), col("id"), lit(1).as("tag"))
    val mRows = memRows.select(col("gid").as("tgt"),
      col("vec_id").as("id"), lit(0).as("tag"))
    val w = Window.partitionBy("tgt").orderBy(col("id"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mRows.unionByName(rRows)
      .withColumn("ndom",
        sum(when(col("tag") === 1, 1L).otherwise(0L)).over(w))
      .withColumn("mind", min(when(col("tag") === 1, col("id"))).over(w))
      .filter(col("tag") === 0)
      .select(col("id").as("vec_id"), col("ndom").as("n_dominating"),
        col("mind").as("min_dominator"), (col("ndom") === 0L).as("kept"))
  }
}
