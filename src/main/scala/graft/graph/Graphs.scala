package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft

/** Graph analytics over transcript-derived graphs: weighted PageRank on the
  * tool-transition graph and triangle counting on the login co-occurrence
  * graph. The log-pipeline analog of the reference's server/session
  * topology reporting (which server talks to which — summary joins in
  * `pkg/app/program.go`), generalized to the two classic whole-graph
  * statistics every entity-graph pipeline ships.
  *
  * Scale notes:
  *  - Both graphs are AGGREGATES of the corpus (distinct edges / counted
  *    transitions), so the corpus-sized pass is one hash-agg; every later
  *    stage runs on the edge table, bounded by |V|² but in practice by the
  *    co-occurrence structure, never by corpus rows.
  *  - PageRank is the fixed-iteration unrolled loop: each step is one
  *    equi-join (ranks ⋈ edges on src, rank side is |V|-bounded so AQE
  *    broadcasts it) + one hash-agg on dst. Integer fixed-point (1e9
  *    scale, multiply-then-DIV) keeps every step bit-exact in both Spark
  *    and DuckDB — no float summation-order drift — and the per-iteration
  *    localCheckpoint cuts the lineage so step k never recomputes step k-1.
  *  - Triangle counting uses the degree-orientation bound (orient every
  *    edge low-degree → high-degree, ties by name): each oriented vertex
  *    has out-degree ≤ √(2m), so the wedge join produces ≤ m·√(2m) rows —
  *    the standard m^{3/2} triangle-join shape — instead of Σd² for hub
  *    vertices. Both joins are equi-joins on vertex keys; AQE skew-join
  *    splits any residual hot vertex.
  */
object Graphs {

  /** Directed weighted tool-transition edges: tool of turn i → tool of
    * turn i+1 within a conversation (both named, self-loops dropped).
    * One window pass (the per-conv ordering shuffle every sequence
    * operator shares) + one hash-agg down to |tools|² rows. */
  def toolTransitionEdges(canonical: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    canonical
      .select(col("tool").as("dst"), lag(col("tool"), 1).over(w).as("src"))
      .filter(col("src").isNotNull && col("src") =!= "" &&
        col("dst") =!= "" && col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  val RankScale = 1000000000L // fixed-point 1e9 == rank 1.0
  val DampX1e3  = 850L        // damping 0.85 in permille

  /** Weighted PageRank, `iters` unrolled power steps at damping 0.85,
    * integer fixed-point so Spark and the SQL oracle agree bit-for-bit:
    *
    *   r₀(v)   = S ÷ N
    *   rₖ₊₁(v) = (1-d)·S ÷ N  +  Σ_{(u,v)∈E} d·rₖ(u)·w(u,v) ÷ W(u)
    *           + d·(Σ_{dangling u} rₖ(u)) ÷ N
    *
    * with S = 1e9 and every ÷ an integer floor-div (multiply first, one
    * division — deterministic, order-independent). The dangling-mass term
    * is a 1-row aggregate joined back by a literal-true broadcast, never
    * a driver collect. Output: (v, r) at iteration `iters`. */
  def pageRank(edges: DataFrame, iters: Int = 3): DataFrame = Graft.cached { cache =>
    val e = cache(edges)
    val verts = cache(e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct())
    val outw = e.groupBy("src").agg(sum("w").as("wout"))
    // edge rows pre-joined with their source's total out-weight: computed
    // once, reused by every iteration
    val ew = cache(e.join(outw, "src"))
    val nRow = verts.agg(count(lit(1)).as("nv"))

    // the loop frame is LINEAGE-TRUNCATED each round (eager
    // localCheckpoint, the kCore/connectedComponentsStar discipline):
    // `next` references `ranks` twice (in-mass + dangling), so with
    // persist-only the LOGICAL plan doubles per round and Catalyst
    // analysis grows with it even though execution hits the caches
    var ranks = verts.join(broadcast(nRow))
      .select(col("v"), expr(s"$RankScale DIV nv").as("r"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val contrib = ew.join(ranks.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("v"))
        .agg(sum(expr(s"r * $DampX1e3 * w DIV (1000 * wout)")).as("in_mass"))
      // dangling mass: rank held by vertices with no out-edges
      val dangle = ranks.join(outw.withColumnRenamed("src", "v"), Seq("v"), "left_anti")
        .agg(coalesce(sum("r"), lit(0L)).as("dangle"))
      ranks = verts
        .join(contrib, Seq("v"), "left")
        .join(broadcast(nRow)).join(broadcast(dangle))
        .select(col("v"),
          (expr(s"(${RankScale - RankScale * DampX1e3 / 1000}) DIV nv") +
            coalesce(col("in_mass"), lit(0L)) +
            expr(s"$DampX1e3 * dangle DIV (1000 * nv)")).as("r"))
        .localCheckpoint(true)
    }
    ranks
  }

  /** PageRank over the tool-transition graph of a canonical transcript
    * frame — the packaged query shape. */
  def toolPageRank(canonical: DataFrame, iters: Int = 3): DataFrame =
    pageRank(toolTransitionEdges(canonical), iters)
      .select(col("v"), col("r"))

  /** Undirected co-occurrence edges between login endpoints
    * (`app@host`): consecutive login turns within a conversation form an
    * edge (distinct, canonicalized u < v). The corpus pass is the shared
    * per-conv window + one distinct. */
  def loginCooccurrenceEdges(parsed: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val nodes = parsed.filter(col("name") === "login")
      .select(col("conv_id"), col("turn_idx"),
        concat(col("app_name"), lit("@"), col("host_name")).as("node"))
    nodes
      .select(col("node").as("b"), lag(col("node"), 1).over(w).as("a"))
      .filter(col("a").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
  }

  /** Triangle participation counts per vertex via the degree-ordered
    * wedge join. Orientation: every undirected edge points from its
    * lower-degree endpoint (ties broken by name), so out-degrees are
    * √(2m)-bounded and the wedge join can't blow up on hubs. Each
    * triangle (a,b,c) is found exactly once (at its lowest-degree apex,
    * wedge legs ordered b < c) and credited to all three corners.
    * Output: (node, n_tri) for vertices in ≥1 triangle. */
  def triangleCounts(edges: DataFrame): DataFrame = Graft.cached { cache =>
    val deg = edges.select(col("u").as("x"))
      .unionByName(edges.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val oriented = cache(edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst")))
    val e1 = oriented.select(col("src"), col("dst").as("b"))
    val e2 = oriented.select(col("src"), col("dst").as("c"))
    val wedges = e1.join(e2, "src").filter(col("b") < col("c"))
    val tris = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"))
    tris.select(explode(array(col("src"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .localCheckpoint()
  }

  /** Triangle counts over the login co-occurrence graph — the packaged
    * query shape. */
  def loginTriangles(parsed: DataFrame): DataFrame =
    triangleCounts(loginCooccurrenceEdges(parsed))

  /** Symmetrized (undirected, weighted) view of a directed edge frame:
    * w(u,v) = Σ of both directions. One hash-agg on the |tools|²-bounded
    * edge table. */
  def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("b"), col("w"))
      .unionByName(
        edges.select(col("dst").as("a"), col("src").as("b"), col("w")))
      .groupBy("a", "b").agg(sum("w").as("w"))

  /** Synchronous weighted label propagation (community detection), `iters`
    * unrolled rounds, fully deterministic:
    *
    *   lbl₀(v)   = v
    *   lblₖ₊₁(v) = argmax_L Σ_{u ∈ N(v), lblₖ(u)=L} w(u,v),
    *               ties broken by the SMALLEST label
    *
    * (vertices with no neighbors keep their label). Each round is one
    * equi-join (labels ⋈ symmetric edges) + one (v, lbl) hash-agg + one
    * per-v window for the argmax — all keyed on vertex ids over the
    * aggregate-sized edge table, never the corpus. Fixed iteration count
    * and the min-label tie-break make the result bit-stable across engines
    * (synchronous LPA can oscillate on bipartite structure; the unrolled
    * count pins WHICH snapshot is reported). */
  def labelPropagation(directedEdges: DataFrame, iters: Int = 3): DataFrame = Graft.cached { cache =>
    val sym = cache(symmetrize(directedEdges))
    val verts = cache(sym.select(col("a").as("v")).distinct())
    var labels = verts.select(col("v"), col("v").as("lbl"))
    for (i <- 1 to iters) {
      val votes = sym
        .join(labels.select(col("v").as("b"), col("lbl")), "b")
        .groupBy(col("a").as("v"), col("lbl"))
        .agg(sum("w").as("wl"))
      val w = Window.partitionBy("v")
        .orderBy(col("wl").desc, col("lbl").asc)
      val winner = votes
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("v"), col("lbl"))
      // eager localCheckpoint = true lineage cut (the kCore discipline):
      // persist+count kept execution cached but the LOGICAL plan still
      // nested round k-1 inside round k
      labels = verts.join(winner, Seq("v"), "left")
        .select(col("v"), coalesce(col("lbl"), col("v")).as("lbl"))
        .localCheckpoint(true)
    }
    labels
  }

  /** BFS hop distances from the lexicographically-smallest vertex over a
    * directed edge frame, `iters` unrolled relaxation rounds. The seed is
    * a 1-row aggregate joined by broadcast (never a driver collect); each
    * round extends the reached set by one hop (reached ⋈ edges on src,
    * then a min-dist hash-agg). Unreached vertices are absent from the
    * output — at 10^12 turns the dist table is bounded by the reachable
    * vertex set, not the corpus. */
  def bfsDistances(edges: DataFrame, iters: Int = 4): DataFrame = Graft.cached { cache =>
    val e = cache(edges.select(col("src"), col("dst")))
    val seed = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .agg(min("v").as("v")).select(col("v"), lit(0L).as("dist"))
    var dist = seed.localCheckpoint(true)
    for (_ <- 1 to iters) {
      // dist appears twice per round (carry + hop-extend) — eager
      // localCheckpoint keeps the logical plan flat (kCore discipline)
      dist = dist.unionByName(dist
          .join(e.withColumnRenamed("src", "v"), "v")
          .select(col("dst").as("v"), (col("dist") + 1L).as("dist")))
        .groupBy("v").agg(min("dist").as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  /** k-core decomposition by `iters` unrolled peeling rounds over an
    * undirected (u, v) edge frame: drop every vertex with degree < k,
    * restrict edges to survivors, repeat. Output: surviving vertices with
    * their degree INSIDE the core. Each round is one degree hash-agg +
    * two semi-joins on vertex keys; the edge frame shrinks monotonically,
    * so the fixed unroll is an upper bound on work, and the usual
    * convergence (tool/entity graphs peel in 2-3 rounds) makes later
    * rounds no-ops on an already-stable frame.
    *
    * Each round ends in an EAGER `localCheckpoint` — lineage truncation,
    * not just caching: a round's plan embeds ~10 copies of the previous
    * round's (e feeds the degree union twice, each semi-join's build side
    * twice, and the probe side once), so with persist-only the LOGICAL
    * tree grows 10× per round and Catalyst analysis dominates — measured
    * 154 s at sf0.01 (a 515 MB round-4 plan string) vs ~2 s with the
    * checkpoint. The executor-loss durability trade of a local
    * checkpoint is the standard one for driver-loop fixpoints: a lost
    * round restarts the JOB, it never corrupts the result. */
  def kCore(undirected: DataFrame, k: Int = 2, iters: Int = 4): DataFrame = {
    var e = undirected.select(col("u"), col("v")).localCheckpoint(true)
    for (_ <- 1 to iters) {
      val deg = e.select(col("u").as("x"))
        .unionByName(e.select(col("v").as("x")))
        .groupBy("x").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("x"))
      e = e
        .join(keep.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(true)
    }
    e.select(col("u").as("x"))
      .unionByName(e.select(col("v").as("x")))
      .groupBy(col("x").as("node")).agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
  }

  /** Link prediction over an undirected (u, v) edge frame: for every
    * NON-adjacent pair with ≥1 common neighbor, the common-neighbor count
    * and an integer resource-allocation score Σ_z 1000000 ÷ d(z) (the
    * Adamic–Adar family with 1/d in fixed point, so Spark and SQL agree
    * exactly). Wedges come from the adjacency self-join centered on z —
    * Σd(z)² rows, the classic wedge bound; at 100 TB hub centers get the
    * same cap/salt guard as the LSH hot buckets (joinForecast previews
    * d², and a degree cap on z drops only hub-centered wedges, which
    * carry the least per-wedge score mass: 1e6/d(z)). The candidate set
    * is then one anti-join against the edge list. */
  /** Per-community summary over a directed weighted edge frame + a
    * (v, lbl) label assignment (labelPropagation's output): vertex count,
    * internal edge weight (both endpoints in the community) and external
    * edge weight (exactly one endpoint — counted from BOTH sides, so an
    * A→B edge adds to A's and B's external mass). The quality surface a
    * community detector ships with: internal≫external = cohesive.
    * All joins are vertex-keyed over aggregate-sized frames. */
  def communityStats(edges: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col("v"), col("lbl"))
    val e = edges
      .join(l.select(col("v").as("src"), col("lbl").as("lbl_src")), "src")
      .join(l.select(col("v").as("dst"), col("lbl").as("lbl_dst")), "dst")
    val internal = e.filter(col("lbl_src") === col("lbl_dst"))
      .groupBy(col("lbl_src").as("community"))
      .agg(sum("w").as("internal_w"))
    val external = e.filter(col("lbl_src") =!= col("lbl_dst"))
      .select(col("lbl_src").as("community"), col("w"))
      .unionByName(e.filter(col("lbl_src") =!= col("lbl_dst"))
        .select(col("lbl_dst").as("community"), col("w")))
      .groupBy("community").agg(sum("w").as("external_w"))
    l.groupBy(col("lbl").as("community")).agg(count(lit(1)).as("n_nodes"))
      .join(internal, Seq("community"), "left")
      .join(external, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("internal_w"), lit(0L)).as("internal_w"),
        coalesce(col("external_w"), lit(0L)).as("external_w"))
  }

  /** GNN-style 2-hop neighborhood features over an undirected (u, v)
    * edge frame: per vertex, its degree, the sum of its neighbors'
    * degrees, and the count of DISTINCT vertices within 2 hops
    * (excluding itself). The graph-feature build a ranking/training
    * pipeline joins back onto its entity table.
    *
    * Scale: the 2-hop expansion is the same wedge join triangle counting
    * pays (Σd² rows before the distinct), keyed on vertex ids — hub
    * vertices get the usual degree-cap/salt guard upstream. */
  def neighborhoodFeatures(undirected: DataFrame): DataFrame = {
    val adj = undirected.select(col("u").as("v"), col("v").as("n"))
      .unionByName(undirected.select(col("v").as("v"), col("u").as("n")))
    val deg = adj.groupBy("v").agg(count(lit(1)).as("deg"))
    val nbrDeg = adj
      .join(deg.select(col("v").as("n"), col("deg").as("nd")), "n")
      .groupBy("v").agg(sum("nd").as("nbr_deg_sum"))
    // distinct vertices reachable in 1 or 2 hops, self excluded
    val twoHop = adj.select(col("v"), col("n").as("mid"))
      .join(adj.select(col("v").as("mid"), col("n").as("far")), "mid")
      .select(col("v"), col("far").as("n"))
      .unionByName(adj)
      .filter(col("v") =!= col("n"))
      .distinct()
      .groupBy("v").agg(count(lit(1)).as("n_within_2"))
    deg.join(nbrDeg, "v").join(twoHop, "v")
      .select("v", "deg", "nbr_deg_sum", "n_within_2")
  }

  /** Bipartite projection of the conversation×tool usage table: tools
    * co-used inside the same conversation, weighted by the number of
    * distinct conversations sharing them (the co-engagement graph build).
    * The corpus pass is one distinct on (conv_id, tool); the self-join
    * fans out ≤|tools-per-conv|² rows per conversation — bounded by the
    * tool vocabulary, not turns, so a 1M-turn hot conversation
    * contributes the same ≤k² rows as a 10-turn one. */
  def toolCoUsage(canonical: DataFrame): DataFrame = {
    val ct = canonical.filter(col("tool") =!= "")
      .select(col("conv_id"), col("tool")).distinct()
    ct.select(col("conv_id"), col("tool").as("tool_a"))
      .join(ct.select(col("conv_id"), col("tool").as("tool_b")), "conv_id")
      .filter(col("tool_a") < col("tool_b"))
      .groupBy("tool_a", "tool_b").agg(count(lit(1)).as("n_convs"))
  }

  def linkPredict(undirected: DataFrame): DataFrame = {
    // adjacency is aggregate-sized; Catalyst's exchange reuse covers the
    // self-join, so no persist (an eager unpersist here would defeat it)
    val adj = undirected.select(col("u").as("z"), col("v").as("x"))
      .unionByName(undirected.select(col("v").as("z"), col("u").as("x")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    val wedges = adj.select(col("z"), col("x").as("a"))
      .join(adj.select(col("z"), col("x").as("b")), "z")
      .filter(col("a") < col("b"))
    val scored = wedges.join(deg, "z")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_n"),
        sum(expr("1000000 DIV d")).as("ra_score"))
    scored.join(
      undirected.select(col("u").as("a"), col("v").as("b")),
      Seq("a", "b"), "left_anti")
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the 100 TB-shape CC: converges in O(log n) rounds on ANY
    * topology, where min-label propagation ([[graft.dedup.Dedup
    * .duplicateClusters]]) needs DIAMETER rounds and a chain-shaped dup
    * component (docs copied copy-of-copy) makes diameter ~ component
    * size. Each round is two conference-table moves: large-star hangs
    * every node's larger neighbors off its minimum; small-star re-hangs
    * the smaller ones; the fixpoint is a forest of stars whose centers
    * are the component minima.
    *
    * Per half-round: one symmetrize + groupBy(u) min + join back on u
    * (shared exchange) + distinct — all equi-operations on the shrinking
    * edge frame. Convergence = (count, order-free checksum) stable, both
    * computed on the canonical post-small-star frame. Returns (id,
    * component) for every non-isolated vertex. */
  private def ccSym(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
  // large-star: v > u re-hang onto min(Γ(u) ∪ {u}).
  // round-6: NO trailing distinct — [[ccSmallStar]]'s min-aggregate,
  // equi-join and final distinct are all multiset-insensitive, so
  // smallStar(largeStar-with-dups) ≡ smallStar(distinct(largeStar))
  // row-for-row, and the dropped exchange+agg was one of three full
  // shuffles per half-round (measured ~15% off the round). Output stays
  // E-bounded without the dedup: each symmetric row with v > u emits
  // exactly one (v, m) row.
  private def ccLargeStar(e: DataFrame): DataFrame = {
    val s = ccSym(e)
    val m = s.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    s.filter(col("v") > col("u")).join(m, "u")
      .select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
  }
  // small-star: v ≤ u (plus u itself) re-hang onto min(Γ≤(u) ∪ {u});
  // the trailing distinct here is the ONE dedup of the round (it also
  // absorbs large-star's duplicates — see above)
  private def ccSmallStar(e: DataFrame): DataFrame = {
    val s = ccSym(e).filter(col("v") <= col("u"))
    val m = s.groupBy("u").agg(min("v").as("m"))
    s.join(m, "u")
      .select(col("v").as("a"), col("m").as("b"))
      .unionByName(m.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b")).distinct()
  }
  /** One large-star + small-star contraction round — the frame the
    * fixpoint loop localCheckpoints; exposed so PlanAudit/PlanSpec can
    * assert the per-round plan shape without executing the loop. */
  private[graft] def ccRound(e: DataFrame): DataFrame =
    ccSmallStar(ccLargeStar(e))

  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // each round references the previous frame ~20× (two symmetrizes,
    // two min-joins, a union); a persist alone leaves the LOGICAL plan
    // growing 20^i — analysis/planning OOMs by round ~6 even on a toy
    // graph. localCheckpoint(eager) truncates the lineage so every
    // round plans against a flat scan of the previous result.
    var e = edges.select(col("a"), col("b"))
      .filter(col("a") =!= col("b")).distinct()
      .localCheckpoint(true)
    var stats = (e.count(), -1L)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val next = ccRound(e).localCheckpoint(true)
      val row = next.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("a"), col("b"))), lit(0L))).collect()(0)
      val nstats = (row.getLong(0), row.getLong(1))
      converged = nstats == stats
      stats = nstats
      e = next
      i += 1
    }
    // fixpoint edges are (child, root) stars; roots label themselves
    e.select(col("a").as("id"), col("b").as("component"))
      .unionByName(e.select(col("b").as("id"), col("b").as("component")))
      .distinct()
  }

  /** HITS hubs & authorities (Kleinberg) over a directed weighted edge
    * frame — the two-sided centrality PageRank's single score cannot
    * express: on the tool-transition graph a HUB is a tool that hands
    * off into important tools, an AUTHORITY one that important tools
    * hand off to (dispatcher vs workhorse — different operational roles
    * with the same PageRank).
    *
    * `iters` unrolled mutual-reinforcement rounds, integer fixed-point
    * so both engines agree bit-for-bit: a(v) = Σ_{(u,v)} h(u)·w then
    * max-normalized to ‰ (×1000 DIV max — one 1-row aggregate broadcast,
    * the milli twin of PageRank's RankScale discipline; max-norm not
    * L2-norm because sqrt would leave integer arithmetic), then
    * h(u) = Σ_{(u,v)} a(v)·w, same normalization. Top hub and top
    * authority read 1000 by construction.
    *
    * Scale shape: per half-round one equi-join of the edge frame with
    * the score table (both keyed on the endpoint) + one vertex hash-agg;
    * the normalizing max is a 1-row broadcast. Edge frame and vertex set
    * stay cached across rounds; everything is equi-keyed, nothing quadratic. */
  def hits(edges: DataFrame, iters: Int = 2): DataFrame = Graft.cached { cache =>
    val e = cache(edges)
    val verts = cache(e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct())
    // each half-round's score table is lineage-truncated by an eager
    // localCheckpoint (the kCore discipline): `a` is built from `h` and
    // `h` from `a`, so persist-only plans nest one more half-round of
    // logical tree per step and Catalyst analysis grows with the unroll
    def normalized(raw: DataFrame, out: String): DataFrame = {
      val mx = raw.agg(max("raw").as("mx"))
      verts.join(raw, Seq("v"), "left").join(broadcast(mx))
        .select(col("v"),
          when(col("mx") > 0,
            expr("coalesce(raw, 0) * 1000 DIV mx")).otherwise(0L).as(out))
        .localCheckpoint(true)
    }
    var h = verts.withColumn("h", lit(1000L))
    var a = verts.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      a = normalized(
        e.join(h.withColumnRenamed("v", "src"), "src")
          .groupBy(col("dst").as("v")).agg(sum(expr("h * w")).as("raw")),
        "a")
      h = normalized(
        e.join(a.withColumnRenamed("v", "dst"), "dst")
          .groupBy(col("src").as("v")).agg(sum(expr("a * w")).as("raw")),
        "h")
    }
    h.join(a, "v")
      .select(col("v"), col("h").as("hub_x1e3"), col("a").as("auth_x1e3"))
  }

  /** HUB-REMOVAL robustness (targeted-percolation audit): connectivity
    * summary of the graph BEFORE and AFTER deleting its `topK`
    * highest-degree vertices — the standard "is this network held
    * together by a few hubs?" probe (scale-free graphs shatter under
    * targeted removal while staying connected under random failure).
    * Operationally: if the login graph's giant component collapses when
    * 3 hubs leave, those hubs are the monitoring/SPOF list.
    *
    * Per phase: non-isolated vertex count, component count, largest
    * component size — from [[connectedComponentsStar]] (O(log n)
    * rounds), so the audit inherits the 100 TB-shape CC rather than a
    * diameter-bound propagation. Hub selection is a degree hash-agg +
    * a topK window ON the degree aggregate; removal is two broadcast
    * anti-joins. Isolated-by-removal vertices drop from n_vertices (CC
    * reports edge-bearing vertices) — documented semantics. */
  def hubRemovalRobustness(edges: DataFrame, topK: Int = 3): DataFrame = {
    val deg = edges.select(col("u").as("x"))
      .unionByName(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val w = Window.orderBy(col("d").desc, col("x"))
    val hubs = deg.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK).select(col("x"))
    def stats(e: DataFrame, phase: String, idx: Int) = {
      val cc = connectedComponentsStar(
        e.select(col("u").as("a"), col("v").as("b")))
      cc.groupBy("component").agg(count(lit(1)).as("sz"))
        .agg(coalesce(sum("sz"), lit(0L)).as("n_vertices"),
          count(lit(1)).as("n_components"),
          coalesce(max("sz"), lit(0L)).as("largest"))
        .select(lit(idx.toLong).as("phase_idx"), lit(phase).as("phase"),
          col("n_vertices"), col("n_components"), col("largest"))
    }
    val pruned = edges
      .join(broadcast(hubs.select(col("x").as("u"))), Seq("u"), "left_anti")
      .join(broadcast(hubs.select(col("x").as("v"))), Seq("v"), "left_anti")
    stats(edges, "full", 0)
      .unionByName(stats(pruned, "hubs_removed", 1))
  }

  /** Degree assortativity (Newman's r, ×1000) of an undirected (u, v)
    * edge frame — does the graph wire hubs to hubs (r > 0, social-style)
    * or hubs to leaves (r < 0, infrastructure-style)? The one-number
    * topology audit run BEFORE per-vertex work, because it decides
    * whether hub-aware salting/sampling is worth setting up at all.
    *
    * Over the directed view (both orientations, M = 2m rows) with
    * j = deg(src), k = deg(dst):  r = (M·Σjk − (Σj)²) / (M·Σj² − (Σj)²).
    * Symmetrized marginals make Newman's two std-devs one variance, so
    * NO square root appears and the statistic is exact rational; the
    * permille output is sign-split so both engines divide non-negatives
    * (Spark DIV truncates, DuckDB // floors — they only agree ≥ 0).
    * den = 0 (all degrees equal, e.g. disjoint edges or a pure cycle)
    * is surfaced as `degenerate` with r_permille 0.
    *
    * Scale shape: one vertex-keyed degree hash-agg; two equi-joins of
    * the edge frame to the degree table (partitioned by endpoint — no
    * broadcast assumption, vertex tables are corpus-sized at 100 TB);
    * one 1-row DECIMAL(38,0) aggregate. Nothing quadratic, no sort. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("x"))
      .unionByName(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val directed = edges.select(col("u").as("s"), col("v").as("t"))
      .unionByName(edges.select(col("v").as("s"), col("u").as("t")))
    directed
      .join(deg.select(col("x").as("s"), col("d").as("j")), "s")
      .join(deg.select(col("x").as("t"), col("d").as("k")), "t")
      .agg(
        count(lit(1)).as("m2"),
        sum(expr("CAST(j AS DECIMAL(38,0)) * k")).as("sjk"),
        sum(col("j").cast("decimal(38,0)")).as("sj"),
        sum(expr("CAST(j AS DECIMAL(38,0)) * j")).as("sjj"))
      .withColumn("num", expr("m2 * sjk - sj * sj"))
      .withColumn("den", expr("m2 * sjj - sj * sj"))
      .select(
        expr("CAST(m2 DIV 2 AS BIGINT)").as("n_edges"),
        (col("den") === 0).as("degenerate"),
        when(col("den") === 0, lit(0L))
          .otherwise(expr(
            """CAST(CASE WHEN num < 0 THEN -(abs(num) * 1000 DIV den)
              |ELSE abs(num) * 1000 DIV den END AS BIGINT)""".stripMargin))
          .as("r_permille"))
  }
}
