package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group embedding centroids — the vector aggregation behind IVF
  * (re)training, per-class prototypes and drift monitoring: an
  * element-wise mean over millions of vectors per group.
  *
  * Scale shape: posexplode to (group, dim_idx, component) → ONE hash
  * aggregation on (group, dim_idx) — partial aggregation does the heavy
  * summing map-side, so the shuffle carries groups×dims rows, not
  * vectors×dims — → re-assemble the centroid array by sorting the
  * (dim_idx, sum, count) structs. No collect, no UDAF, no driver loop.
  *
  * Determinism: a raw double sum is addition-order-dependent, and shuffle
  * order is not reproducible — so components are micro-quantized FIRST
  * (floor(x·1e6), exact in both engines) and summed as LONGS, which is
  * associative. The centroid is floor(sum/n): bit-stable at any scale and
  * any partitioning, the property a correctness gate needs.
  */
object Centroids {

  /** Centroid per value of `keyCol` (must exist alongside `embedding`). */
  def perKey(vecs: DataFrame, keyCol: String): DataFrame = {
    val exploded = vecs
      .select(col(keyCol).as("grp"),
        posexplode(col("embedding")).as(Seq("dim_idx", "comp")))
      .select(col("grp"), col("dim_idx"),
        floor(col("comp").cast("double") * 1000000.0).cast("long")
          .as("comp_x1e6"))
    exploded
      .groupBy("grp", "dim_idx")
      .agg(count(lit(1)).as("n"), sum("comp_x1e6").as("s"))
      .groupBy("grp")
      .agg(max(col("n")).as("n_vectors"),
        transform(
          array_sort(collect_list(struct(col("dim_idx"), col("s"), col("n")))),
          e => floor(e("s").cast("double") / e("n")).cast("long"))
          .as("centroid_x1e6"))
  }

  /** Group = vec_id mod `groups` (a self-contained stratum on the
    * embeddings table). */
  def perGroup(vecs: DataFrame, groups: Int = 4): DataFrame =
    perKey(vecs.withColumn("grp", col("vec_id") % groups), "grp")

  /** One Lloyd iteration of k-means — the IVF TRAINING step the coarse
    * quantizer needs (assignment → centroid update → re-assignment):
    * initial centroids are the deterministic modulus sample
    * ([[Similarity.ivfCentroids]]), each vector is assigned to its nearest
    * centroid by cosine, centroids are recomputed as micro-quantized means
    * (associative long sums — bit-stable, see [[perKey]]), and vectors are
    * re-assigned against the updated centroids. Returns per vector the
    * before/after cell and a moved flag — the convergence signal a
    * training loop monitors.
    *
    * Scale shape: two broadcast n×k assignment passes (the shuffle carries
    * ONE row per vector — map-side partial collapses the k candidates) and
    * one groups×dims centroid aggregation between them. k is small by
    * construction (√n cells), so the centroid set always broadcasts;
    * nothing quadratic, nothing keyed on the vector payload.
    */
  def kmeansIteration(vecs: DataFrame, centroidMod: Int = 200): DataFrame = {
    // a0 feeds both the centroid update and the re-assignment; persisted so
    // the n×k assignment pass runs once (the cache lives until
    // `unpersist` or `clearCache`, as TfIdf's tf does)
    val a0 = Similarity.ivfAssign(vecs, centroidMod)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents1 = perKey(a0.withColumn("grp", col("cent_id")), "grp")
      .select(col("grp").as("cent_id"),
        transform(col("centroid_x1e6"), x => x.cast("double")).as("cent_emb"))
    a0.select(col("vec_id"), col("embedding"), col("cent_id").as("cell0"))
      .crossJoin(broadcast(cents1))
      .withColumn("_score", struct(
        Similarity.cosine(col("embedding"), col("cent_emb")).as("cos"),
        (-col("cent_id")).cast("double").as("nid")))
      .groupBy("vec_id", "cell0")
      .agg(max_by(col("cent_id"), col("_score")).as("cell1"))
      .select(col("vec_id"), col("cell0"), col("cell1"),
        when(col("cell0") =!= col("cell1"), lit(1L)).otherwise(lit(0L))
          .as("moved"))
  }

  /** Full k-means training loop: repeat (assign → quantized-mean update)
    * until no vector moves or `maxIter` is hit — the driver-side fixpoint
    * pattern [[graft.dedup.Dedup.duplicateClusters]] also uses (each
    * round is one broadcast assignment + one groups×dims aggregate;
    * per-round frames persist and release as the loop advances; the
    * movement count is the per-round action that decides convergence).
    * Returns the final assignment (vec_id, cent_id) plus the iteration
    * count that produced it, stamped on every row.
    *
    * No DuckDB oracle (iterative fixpoint; the single Lloyd STEP is the
    * oracled unit — q86); CurationSpec asserts monotone convergence. */
  def kmeansTrain(vecs: DataFrame, centroidMod: Int = 200,
                  maxIter: Int = 5): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val q = vecs.select(col("vec_id"), col("embedding"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // per-round frames are lineage-truncated by an eager localCheckpoint
    // (the kCore discipline): `next` references `assign` twice (centroid
    // update + re-assignment), so persist-only doubles the LOGICAL plan
    // per Lloyd round even though execution hits the cache
    var assign = Similarity.ivfAssign(q, centroidMod)
      .select(col("vec_id"), col("embedding"), col("cent_id"))
      .localCheckpoint(true)
    var iters = 1
    var converged = false
    while (iters < maxIter && !converged) {
      val cents = perKey(assign.withColumn("grp", col("cent_id")), "grp")
        .select(col("grp").as("cent_id"),
          transform(col("centroid_x1e6"), x => x.cast("double")).as("cent_emb"))
      val next = assign.select(col("vec_id"), col("embedding"),
          col("cent_id").as("prev"))
        .crossJoin(broadcast(cents))
        .withColumn("_score", struct(
          Similarity.cosine(col("embedding"), col("cent_emb")).as("cos"),
          (-col("cent_id")).cast("double").as("nid")))
        .groupBy("vec_id", "prev")
        .agg(max_by(col("cent_id"), col("_score")).as("cent_id"),
          first(col("embedding")).as("embedding"))
        .localCheckpoint(true)
      val moved = next.filter(col("cent_id") =!= col("prev")).count()
      assign = next.select("vec_id", "embedding", "cent_id")
      converged = moved == 0
      iters += 1
    }
    q.unpersist()
    assign.select(col("vec_id"), col("cent_id"), lit(iters.toLong).as("n_iters"))
  }

  /** IVF top-k over the TRAINED index: cells are the post-Lloyd-step
    * assignment ([[kmeansIteration]]'s re-assignment against the updated
    * quantized-mean centroids), queries probe only their own cell — the
    * composition a real IVF deployment runs (train, then search), with
    * the same broadcast n×k + cell equi-join scale shape as
    * [[Similarity.ivfTopK]]. */
  def ivfTopKTrained(vecs: DataFrame, k: Int = 5, queryMod: Int = 50,
                     centroidMod: Int = 200): DataFrame = {
    val a0 = Similarity.ivfAssign(vecs, centroidMod)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents1 = perKey(a0.withColumn("grp", col("cent_id")), "grp")
      .select(col("grp").as("cent_id"),
        transform(col("centroid_x1e6"), x => x.cast("double")).as("cent_emb"))
    // re-assignment against the retrained means and the in-cell probe
    // both ride the exact-clone-collapsed helpers (see Similarity)
    val assigned = Similarity.assignWith(
      a0.select(col("vec_id"), col("embedding")), cents1)
    Similarity.cellTopK(assigned, k, queryMod)
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Per-class prototypes: embeddings joined to document labels on
    * vec_id = doc_id, then one centroid per language. The label side
    * carries two narrow columns; the join is an equi-join the planner
    * broadcasts when the label projection is small or sort-merges on the
    * shared id otherwise — either way no wide row ever shuffles twice. */
  def perLang(vecs: DataFrame, docs: DataFrame): DataFrame =
    perKey(
      vecs.join(docs.select(col("doc_id").as("vec_id"), col("lang")), "vec_id"),
      "lang")

  /** Greedy k-center coreset selection (Gonzalez farthest-point): pick
    * the `k` vectors that 2-approximate the optimal covering radius —
    * the DIVERSE-subset selector a training pipeline runs when it can
    * afford n exemplars and wants them spread over embedding space, the
    * geometric complement of [[graft.operators.Sampling]]'s
    * provenance/cluster-balanced samplers (which balance by metadata,
    * not by geometry).
    *
    * Round r: every vector's distance to its NEAREST chosen center
    * (a join against the ≤r-row broadcast center set — map-only over
    * the corpus), then ONE 1-row argmax picks the farthest vector
    * (deterministic tie-break: smallest vec_id via struct ordering).
    * k unrolled rounds = k corpus passes, each exchange-free except
    * the 1-row aggregate — no quadratic pair join anywhere.
    *
    * Distances are squared-Euclidean over milli-quantized components
    * (the [[perKey]] determinism convention): integer-exact, so the
    * argmax — and therefore the selected set — is bit-stable across
    * engines and partitionings. Seed = smallest vec_id (sel_dist2 0).
    * Output: (sel_idx, vec_id, sel_dist2) — sel_dist2 is the covering
    * radius² at selection time, non-increasing over rounds. */
  def kCenterSelect(vecs: DataFrame, k: Int = 4): DataFrame = {
    val q = vecs.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000.0).cast("long")).as("q"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fused integer sq-dist kernel (VecSqDist) — n×k evaluations per
    // selection round; bit-identical to the HOF fold (VecSqDistParity)
    val d2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      VecSqDist.sqDistFused(a, b)
    val seed = q.orderBy("vec_id").limit(1)
      .select(lit(1L).as("sel_idx"), col("vec_id"), col("q"),
        lit(0L).as("sel_dist2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chosen = (2 to k).foldLeft(seed) { case (centers, idx) =>
      val c = broadcast(
        centers.select(col("vec_id").as("c_id"), col("q").as("cq")))
      val far = q.join(c, col("vec_id") =!= col("c_id"))
        .groupBy("vec_id").agg(
          min(d2(col("q"), col("cq"))).as("mind2"),
          first(col("q")).as("q"))
        .join(c.select("c_id"), col("vec_id") === col("c_id"), "left_anti")
        .agg(
          max(struct(col("mind2").as("d"), (-col("vec_id")).as("nid"))).as("m"),
          max_by(col("q"),
            struct(col("mind2").as("d"), (-col("vec_id")).as("nid"))).as("q"))
        .select(lit(idx.toLong).as("sel_idx"), (-col("m.nid")).as("vec_id"),
          col("q"), col("m.d").as("sel_dist2"))
      // persist each round: the next round's broadcast re-reads the
      // chosen set, and without it the plan re-runs all prior argmaxes
      centers.unionByName(far)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val out = chosen.select("sel_idx", "vec_id", "sel_dist2")
      .orderBy("sel_idx")
    out.count() // force before unpersisting the inputs
    q.unpersist()
    out
  }
}
