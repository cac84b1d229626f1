package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the memory-scale ANN representation: split
  * each `Dim`-component vector into `M` sub-vectors, quantize every
  * sub-vector to its nearest codebook centroid, and store only the `M`
  * small codes (64 floats → 8 bytes/vector, the compression that makes
  * billion-vector indexes fit in RAM). Search uses ADC (asymmetric
  * distance computation): per query, precompute the M×K table of
  * sub-distances to every centroid ONCE, then score each stored vector
  * with M table lookups — no float math per candidate.
  *
  * Determinism: components are micro-quantized (floor(x·1e6)) before any
  * distance math, so sub-distances are exact integer sums and the
  * argmin/top-k orderings (ties → smaller id) are bit-stable across
  * engines. Codebooks are the deterministic modulus sample of the corpus
  * itself (same convention as [[Similarity.ivfCentroids]]; real systems
  * train them with [[Centroids.kmeansIteration]]).
  *
  * Scale shape (round-5): encoding is a broadcast (distinct-vectors)×(M·K)
  * pass — exact-clone collapsed, members re-attached by a value-keyed
  * join; search scores (query-group × candidate-group) pairs through one
  * broadcast hash-join on the distance-table ENTRIES plus a map-side
  * combined sum, retains the provably-exact top-k band per query group,
  * and expands to rows only inside the band — the only corpus-keyed
  * exchanges are the two collapse aggregations and the final per-query
  * top-k window. See [[adcTopK]] for the full argument (and the 150×
  * sf-sweep counterexample that forced the rewrite).
  */
object PQ {

  val Dim = 64
  val M = 8          // subspaces
  val SubDim = 8     // Dim / M
  // dtable key = m·stride + code_idx. The stride bounds the codebook id
  // space: code_idx < 2^40 (vec_id < centMod·2^40 ≈ 5.5e13 at the default)
  // keeps keys collision-free and m·stride ≤ 8·2^40 far inside Long; real
  // deployments additionally remap codebook ids densely, where K ≤ 65536
  // by construction.
  val KeyStride = 1L << 40

  /** Micro-quantized copy of the embeddings: (vec_id, q: array<long>). */
  def quantized(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000.0).cast("long")).as("q"))

  /** Squared L2 between two equal-length long arrays — the fused
    * [[VecSqDist]] kernel (round-5; evaluated n×M×codebook times in
    * the crossJoin below, where the HOF form ran interpreted). */
  private def l2sq(a: Column, b: Column): Column =
    VecSqDist.sqDistFused(a, b)

  /** The declarative HOF twin of [[l2sq]], the A/B semantics reference
    * VecSqDistParity pins the fused kernel to. */
  private[graft] def l2sqDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), _ + _)

  /** Codebook rows (m, code_idx, csub): sub-vector `m` of every sampled
    * centroid, with the dense code index c_id / centMod. */
  def codebook(vecs: DataFrame, centMod: Int = 50): DataFrame =
    quantized(vecs.filter(col("vec_id") % centMod === 0))
      .select((col("vec_id") / centMod).cast("long").as("code_idx"), col("q"))
      .select(col("code_idx"), explode(sequence(lit(0), lit(M - 1))).as("m"), col("q"))
      .select(col("m").cast("long").as("m"), col("code_idx"),
        slice(col("q"), col("m") * SubDim + 1, lit(SubDim)).as("csub"))

  /** PQ encoding: (vec_id, codes: array<long> of length M), code m =
    * argmin over the codebook of the integer sub-distance.
    *
    * Exact-clone collapse (round-5): the argmin depends only on the
    * quantized vector VALUE, so the n×(M·K) codebook pass runs once per
    * DISTINCT quantized vector and members re-attach by a value-keyed
    * join — on a clone-multiplied corpus (the staged sf1 statistic, and
    * any real crawl's repeated embeddings) the codebook-scan volume drops
    * by the multiplicity while the output stays row-identical. */
  def encode(vecs: DataFrame, centMod: Int = 50): DataFrame = {
    val cb = codebook(vecs, centMod)
    val qv = quantized(vecs)
    val grp = qv.groupBy(col("q")).agg(min(col("vec_id")).as("gid"))
    val repCodes = grp
      .crossJoin(broadcast(cb))
      .withColumn("d", l2sq(slice(col("q"), col("m") * SubDim + 1, lit(SubDim)),
        col("csub")))
      .groupBy("gid", "m")
      .agg(min(struct(col("d"), col("code_idx"))).getField("code_idx").as("code"))
      .groupBy("gid")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        e => e.getField("code")).as("codes"))
    qv.join(grp, Seq("q")).select(col("vec_id"), col("gid"))
      .join(repCodes, "gid").select("vec_id", "codes")
  }

  /** The uncollapsed per-vector encode, retained as the A/B semantics
    * reference PQCollapseParity pins [[encode]] to. */
  private[graft] def encodeDirect(vecs: DataFrame, centMod: Int = 50): DataFrame = {
    val cb = codebook(vecs, centMod)
    quantized(vecs)
      .crossJoin(broadcast(cb))
      .withColumn("d", l2sq(slice(col("q"), col("m") * SubDim + 1, lit(SubDim)),
        col("csub")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("d"), col("code_idx"))).getField("code_idx").as("code"))
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        e => e.getField("code")).as("codes"))
  }

  /** ADC top-k: per query, the k nearest stored vectors by summed
    * sub-distance table lookups. Returns (q_id, neighbor_id, rank,
    * adc_dist).
    *
    * Round-5 rewrite — the original form ([[adcTopKMapScan]], retained as
    * the A/B reference) carried the per-query M×K table as a per-row MAP
    * value and scored every (query, vector) pair with an interpreted HOF
    * of `element_at` lookups; Catalyst's `MapData` lookup is a LINEAR
    * scan, and K grows with the corpus (codebook = modulus sample), so
    * per-pair cost was O(M²·K) interpreted — the first tier-2 sf-sweep of
    * this operator read 150× on 10× input (1.8 s → 278 s). This form is
    * relational end-to-end:
    *
    *  1. CLONE-COLLAPSE both sides: vectors sharing a code array share
    *     every ADC score (scoring reads only the codes), queries sharing
    *     a quantized vector share the whole distance table — score once
    *     per (query-group, candidate-group), members as ROWS (the
    *     row-shaped round-5 convention, no member arrays).
    *  2. The distance table becomes JOIN ENTRIES (qgid, m, code_idx, d):
    *     group scores come from one hash-join on (m, code) plus a
    *     partial-aggregated sum — whole-stage codegen, no map values, no
    *     HOF; the shuffle carries one row per (query-group,
    *     candidate-group), map-side combined from the M sub-rows.
    *  3. PROVABLY-EXACT retention (the cellTopK boundary argument): a
    *     candidate group can reach a query's top-k rows only if the
    *     member count of STRICTLY closer groups is ≤ k — `k+1` absorbs
    *     the one self-row exclusion, and equal-distance groups (which
    *     interleave members by vec_id) share the same strict count, so
    *     every tied group at the cut is retained. Only the retained band
    *     expands back to rows for the exact (adc_dist, vec_id)
    *     row_number the uncollapsed form computes.
    *
    * PQCollapseParity pins row-identity against [[adcTopKMapScan]] on
    * corpus + adversarial fixtures; q90's oracle re-gates end-to-end.
    *
    * PRECONDITION (ADVICE r5): embeddings must be finite — a null/NaN
    * component (under non-ANSI casts) would make this form's `sum(d)`
    * SKIP the null sub-distance where the map-scan's aggregate fold
    * null-poisons the whole distance. The corpus contract (dense finite
    * float arrays, enforced at synthesis) rules the shape out; callers
    * feeding external embeddings should pre-filter non-finite rows. */
  def adcTopK(vecs: DataFrame, k: Int = 5, queryMod: Int = 53,
              centMod: Int = 50): DataFrame = {
    val cb = codebook(vecs, centMod)
    val codes = encode(vecs, centMod)
    // candidate groups + member rows, keyed by the code array value
    val cgrp = codes.groupBy(col("codes"))
      .agg(min(col("vec_id")).as("cgid"), count(lit(1)).as("cm"))
    val cmem = codes.join(cgrp.select(col("codes"), col("cgid")), Seq("codes"))
      .select(col("cgid"), col("vec_id"))
    val cexp = cgrp.select(col("cgid"), col("cm"),
        posexplode(col("codes")))
      .select(col("cgid"), col("cm"), col("pos").cast("long").as("m"),
        col("col").as("code"))
    // query groups + member rows, keyed by the quantized vector value
    val qv = quantized(vecs.filter(col("vec_id") % queryMod === 0))
    val qgrp = qv.groupBy(col("q")).agg(min(col("vec_id")).as("qgid"))
    val qmem = qv.join(qgrp.select(col("q"), col("qgid")), Seq("q"))
      .select(col("qgid"), col("vec_id").as("q_id"))
    // distance-table entries as rows: one (m, code_idx) sub-distance per
    // query group — the relational form of the M×K map
    val dtE = qgrp
      .crossJoin(broadcast(cb))
      .select(col("qgid"), col("m").as("dm"), col("code_idx"),
        l2sq(slice(col("q"), col("m") * SubDim + 1, lit(SubDim)),
          col("csub")).as("d"))
    val gscore = cexp.join(broadcast(dtE),
        cexp("m") === dtE("dm") && cexp("code") === dtE("code_idx"))
      .groupBy(col("qgid"), col("cgid"), col("cm"))
      .agg(sum(col("d")).as("adc_dist"))
    // exact retention band: strictly-closer member count ≤ k
    val wd = Window.partitionBy(col("qgid")).orderBy(col("adc_dist"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val kept = gscore
      .withColumn("better", coalesce(sum(col("cm")).over(wd), lit(0L)))
      .filter(col("better") < k + 1)
      .select(col("qgid"), col("cgid"), col("adc_dist"))
    // expand the band only, then the exact row-level rank. No forced
    // broadcast on kept/qmem (ADVICE r5): both scale with corpus size
    // (qmem is n/queryMod rows; kept ~ queries × band groups), so the
    // hints could exceed broadcast limits at the 100 TB design point —
    // AQE picks broadcast at runtime whenever they actually fit.
    val rows = cmem.join(kept, "cgid")
      .join(qmem, "qgid")
      .filter(col("vec_id") =!= col("q_id"))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))
    rows.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("adc_dist"))
  }

  /** The original map-valued ADC scan, retained as the A/B semantics
    * reference PQCollapseParity pins [[adcTopK]] to (and the measured
    * 150×-at-10× counterexample the rewrite's scaladoc cites). */
  private[graft] def adcTopKMapScan(vecs: DataFrame, k: Int = 5,
                                    queryMod: Int = 53,
                                    centMod: Int = 50): DataFrame = {
    val cb = codebook(vecs, centMod)
    val codes = encodeDirect(vecs, centMod)
    // per-query distance table: key m·KeyStride + code_idx → sub-distance
    val dt = quantized(vecs.filter(col("vec_id") % queryMod === 0))
      .crossJoin(broadcast(cb))
      .withColumn("d", l2sq(slice(col("q"), col("m") * SubDim + 1, lit(SubDim)),
        col("csub")))
      .groupBy(col("vec_id").as("q_id"))
      .agg(map_from_entries(collect_list(
        struct((col("m") * KeyStride + col("code_idx")).as("k"), col("d").as("v"))))
        .as("dtable"))
    val scored = codes.crossJoin(broadcast(dt))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dist",
        aggregate(transform(sequence(lit(0L), lit(M - 1L)),
          m => element_at(col("dtable"), m * KeyStride + element_at(col("codes"), (m + 1).cast("int")))),
          lit(0L), _ + _))
    val w = Window.partitionBy("q_id").orderBy(col("adc_dist"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("rank"),
        col("adc_dist"))
  }
}
