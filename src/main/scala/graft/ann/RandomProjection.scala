package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Random-projection dimensionality reduction (Achlioptas-style ±1 signs):
  * project `dim`-component embeddings down to `outDim` components with a
  * deterministic sign matrix `sign(i,j) = +1 iff (i·37 + j·17) mod 2 = 0`.
  * The cheap JL-lemma step before clustering / coarse ANN — 4× fewer
  * bytes per vector at outDim=16 while approximately preserving distances.
  *
  * Scale + determinism: components are micro-quantized FIRST
  * (floor(x·1e6) — exact in both engines, same trick as [[Centroids]]),
  * so every projected component is an exact integer sum in a fixed order:
  * bit-stable at any parallelism. The whole operator is a per-row
  * expression tree — no shuffle, no UDF; at 100 TB it is a map-only pass
  * whose cost is the scan. The quantized array lives in its own projection
  * so it computes once, not `outDim` times (CollapseProject keeps
  * non-cheap exprs un-inlined).
  */
object RandomProjection {

  /** Deterministic ±1 sign matrix: Walsh–Hadamard rows ((−1)^popcount(i&j),
    * mutually orthogonal) composed with a fixed pseudo-random column
    * diagonal ((−1)^popcount(5j+3)) — the SRHT shape without the FFT.
    * The original parity form ((37i+17j) mod 2) FACTORED as
    * (−1)^i·(−1)^j — a rank-1 outer product, so all outDim components
    * carried one scalar and distances were not preserved at all; the
    * [[jlDistortion]] audit caught it (ratio histogram spread 0–5.5×),
    * and against this matrix the same audit concentrates ~93% of pairs
    * within ±50% at outDim 16. */
  def sign(i: Int, j: Int): Long =
    if ((Integer.bitCount(i & j) + Integer.bitCount(5 * j + 3)) % 2 == 0) 1L
    else -1L

  /** (vec_id, proj) with proj = outDim exact-integer components (×1e6).
    * Round-5: each component is one fused [[VecDotL]] kernel against its
    * constant sign row (was outDim interpreted aggregate/zip_with trees
    * per input row — ~outDim·dim lambda rows on a map-only pass whose
    * cost should be the scan). Same ascending fold, same wrap, same
    * bits (VecDotLParity + the projectDeclarative twin below). */
  def project(vecs: DataFrame, outDim: Int = 16, dim: Int = 64): DataFrame = {
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * 1000000.0).cast("long"))
    val comps = (0 until outDim).map { i =>
      val signs = array((0 until dim).map(j => lit(sign(i, j))): _*)
      VecDotL.dotFused(col("_q"), signs)
    }
    vecs.select(col("vec_id"), q.as("_q"))
      .select(col("vec_id"), array(comps: _*).as("proj"))
  }

  /** The declarative HOF twin of [[project]], the A/B semantics
    * reference its parity spec pins the fused form to. */
  private[graft] def projectDeclarative(vecs: DataFrame, outDim: Int = 16,
                                        dim: Int = 64): DataFrame = {
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * 1000000.0).cast("long"))
    val comps = (0 until outDim).map { i =>
      val signs = array((0 until dim).map(j => lit(sign(i, j))): _*)
      aggregate(zip_with(col("_q"), signs, (x, s) => x * s),
        lit(0L), (acc, v) => acc + v)
    }
    vecs.select(col("vec_id"), q.as("_q"))
      .select(col("vec_id"), array(comps: _*).as("proj"))
  }

  /** One POWER-ITERATION step toward the corpus's top principal component
    * — the training step of a PCA/OPQ rotation (IVF and PQ both improve
    * on decorrelated vectors; this is the distributed y = Σᵥ v·(v·x) pass
    * that, iterated with normalization, converges to the top eigenvector
    * of the covariance).
    *
    * The probe direction x is a deterministic per-dim function
    * (x(d) = (31d+7) mod 13 − 6) so both engines share one definition;
    * arithmetic is milli-quantized integer throughout. Scale shape: the
    * per-vector dot is a map-only expression; the per-dim accumulation is
    * one hash-agg down to `dim` rows with map-side combine — nothing
    * driver-side, nothing corpus-sized after the scan. */
  def powerIterationStep(vecs: DataFrame): DataFrame =
    stepWith(vecs, i => (i * 31L + 7L) % 13L - 6L)

  /** [[powerIterationStep]] against an explicit integer probe vector
    * (the loop's feedback edge). */
  def stepWithProbe(vecs: DataFrame, probe: Array[Long]): DataFrame = {
    val p = array(probe.map(lit(_)): _*)
    stepWith(vecs, i => element_at(p, (i + 1).cast("int")))
  }

  private def stepWith(vecs: DataFrame,
                       probeAt: Column => Column): DataFrame = {
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * 1000.0).cast("long"))
    val dot = aggregate(transform(col("_q"), (x, i) => x * probeAt(i)),
      lit(0L), (acc, v) => acc + v)
    vecs.select(q.as("_q"))
      .select(posexplode(col("_q")).as(Seq("dim_idx", "qd")),
        dot.as("dot"))
      .groupBy("dim_idx").agg(sum(col("qd") * col("dot")).as("y"))
      .select(col("dim_idx").cast("long").as("dim_idx"), col("y"))
  }

  /** Power-iteration LOOP: the driver-side fixpoint over the oracled step
    * (the [[Centroids.kmeansTrain]] convention — each round is the
    * distributed q168 pass, the ≤dim-length vector collects, normalizes
    * to a milli-unit probe in driver doubles, and feeds back). Returns
    * the unit-norm direction after `iters` rounds — the top principal
    * direction the OPQ/IVF preprocessing rotates onto. */
  /** Johnson–Lindenstrauss DISTORTION AUDIT for [[project]]'s sign
    * matrix — the measured answer to "is outDim big enough?", read as a
    * histogram of per-pair distance-preservation ratios instead of
    * trusting the JL bound's constants. For deterministically sampled
    * pairs (vec v with v+1 where v % pairMod = 0 — the consecutive-pair
    * convention of q43, linear not quadratic):
    *
    *   ratio_permille = ‖P·(a−b)‖² · 1000 DIV (outDim · ‖a−b‖²)
    *
    * — for a ±1 sign matrix E‖Px‖² = outDim·‖x‖², so a perfect sketch
    * reads 1000; the histogram's spread IS the distortion. P is linear,
    * so projecting the DIFFERENCE equals differencing the projections
    * exactly in integer arithmetic — one milli-quantized diff vector
    * feeds both numerator and denominator (shared quantization makes the
    * ratio scale-free; milli not micro keeps the squares in long range).
    *
    * Shape: map-only per-pair expressions after ONE narrow equi-join of
    * the sampled rows on vec_id+1 (AQE-broadcastable sliver at any
    * corpus size); the histogram is a ≤~30-row hash-agg. */
  def jlDistortion(vecs: DataFrame, outDim: Int = 16, dim: Int = 64,
                   pairMod: Int = 7): DataFrame = {
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * 1000.0).cast("long"))
    val base = vecs.select(col("vec_id"), q.as("qv"))
    val a = base.filter(col("vec_id") % pairMod === 0)
      .select(col("vec_id").as("id_a"), col("qv").as("qa"))
    val b = base.select((col("vec_id") - 1).as("id_a"), col("qv").as("qb"))
    val diff = zip_with(col("qa"), col("qb"), (x, y) => x - y)
    // ‖a−b‖² IS the fused sq-dist kernel on (qa, qb) — same per-element
    // (x−y)² ascending fold as squaring the diff vector, same bits; the
    // projected components ride VecDotL against the constant sign rows
    // (round-5, was outDim+1 interpreted folds per pair)
    val od2 = VecSqDist.sqDistFused(col("qa"), col("qb"))
    val pd2 = (0 until outDim).map { i =>
      val signs = array((0 until dim).map(j => lit(sign(i, j))): _*)
      val pi = VecDotL.dotFused(col("dv"), signs)
      pi * pi
    }.reduce(_ + _)
    a.join(b, "id_a")
      .select(col("id_a"), diff.as("dv"), od2.as("od2"))
      .select(col("id_a"), col("od2"), pd2.as("pd2"))
      .filter(col("od2") > 0)
      .withColumn("ratio_permille", expr(s"pd2 * 1000 DIV (od2 * $outDim)"))
      .withColumn("bucket", expr("ratio_permille DIV 100"))
      .groupBy("bucket").agg(count(lit(1)).as("n_pairs"),
        min("ratio_permille").as("min_ratio"),
        max("ratio_permille").as("max_ratio"))
  }

  def topEigenvector(vecs: DataFrame, iters: Int = 3): Array[Double] = {
    val dim = vecs.select(size(col("embedding"))).head().getInt(0)
    var v: Array[Double] =
      Array.tabulate(dim)(d => ((31L * d + 7L) % 13L - 6L).toDouble)
    (0 until iters).foreach { _ =>
      val n = math.sqrt(v.map(x => x * x).sum)
      val probe = v.map(x => math.floor(x / n * 1000.0).toLong)
      v = stepWithProbe(vecs, probe).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).map(_._2.toDouble)
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
}
