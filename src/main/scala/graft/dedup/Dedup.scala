package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Graft
import graft.text.TextAnalysis._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-shingle Jaccard verification.
  *
  * Scale notes (the point of each design):
  *  - exact: one hash-aggregate shuffle on the normalized text key.
  *  - minhash: signatures are per-row expression trees (no shuffle); LSH
  *    banding turns the O(n²) pair space into an equi-join on
  *    (band_idx, band_sig) — shuffle keyed on band signatures, so only
  *    colliding docs ever meet. Hot buckets are bounded by AQE skew-join.
  *  - verify: exact shingle-Jaccard only on LSH candidates (tiny set).
  */
object Dedup {

  // ---- exact dedup -----------------------------------------------------------
  /** Normalized-text exact dedup: keeper = min doc_id per group. The
    * group key is the full normalized text — exact by definition, but the
    * exchange carries every document body; use [[exactByHash]] at scale. */
  def exact(docs: DataFrame): DataFrame =
    docs.withColumn("norm", regexp_replace(lower(col("text")), "\\s+", " "))
      .groupBy("norm")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")

  /** 128-bit content key for exact dedup — the 100 TB shape: the shuffle
    * carries a 32-char key instead of the document text (MD5 is
    * standardized, so Spark and DuckDB agree byte-for-byte; collision
    * probability at 1e12 docs is ~1e-13, the accepted industry trade). */
  def exactKeyHash(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " ").cast("binary"))

  /** Homoglyph-confusable fold: the common Cyrillic/Greek lookalikes of
    * Latin letters map to their Latin targets before the content key is
    * taken. Spam/SEO mills evade exact dedup by swapping а→a-lookalikes
    * (byte-different, pixel-identical); folding first closes the hole.
    * Covers the high-frequency confusable set (Unicode TR39's Latin
    * skeleton for the letters that actually collide in running text). */
  val HomoglyphPairs: Seq[(Char, Char)] = Seq(
    'а' -> 'a', 'е' -> 'e', 'о' -> 'o', 'р' -> 'p', 'с' -> 'c',
    'х' -> 'x', 'у' -> 'y', 'і' -> 'i', 'ј' -> 'j', 'һ' -> 'h',
    'ο' -> 'o', 'α' -> 'a', 'ɡ' -> 'g')
  val HomoglyphFrom: String = HomoglyphPairs.map(_._1).mkString
  val HomoglyphTo: String = HomoglyphPairs.map(_._2).mkString

  def homoglyphFold(text: Column): Column =
    translate(text, HomoglyphFrom, HomoglyphTo)

  /** Evasive-duplicate detection: documents whose FOLDED content keys
    * collide while their raw keys differ — exactly the homoglyph-evasion
    * cluster exact dedup misses. Output: every member of such a cluster
    * with the cluster keeper and the raw-variant count.
    *
    * Shape: same one hash-agg shuffle as [[exactByHash]], carrying the
    * 32-char folded key; the corpus joins back to the tiny evasive-key
    * set by key (broadcast). */
  def homoglyphDups(docs: DataFrame): DataFrame = Graft.cached { cache =>
    val keyed = cache(docs.select(col("doc_id"),
      exactKeyHash(col("text")).as("raw_h"),
      exactKeyHash(homoglyphFold(col("text"))).as("fold_h")))
    val evasive = keyed.groupBy("fold_h").agg(
        min(col("doc_id")).as("keeper_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_raw_variants"))
      .filter(col("n_docs") >= 2 && col("n_raw_variants") >= 2)
    keyed.join(broadcast(evasive), "fold_h")
      .select(col("doc_id"), col("keeper_id"), col("n_docs"),
        col("n_raw_variants"))
      .localCheckpoint()
  }

  /** Exact dedup keyed on the content hash. */
  def exactByHash(docs: DataFrame): DataFrame =
    docs.withColumn("norm_h", exactKeyHash(col("text")))
      .groupBy("norm_h")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("norm_h", "keeper_id", "n_copies")

  /** Cross-source duplication ATTRIBUTION — who copies whom. For every
    * exact-dup cluster (md5 content key, ≥2 docs) the keeper is the
    * smallest doc_id (the [[exactByHash]] convention — ingestion order
    * stands in for crawl time); its source is the cluster's ORIGIN, and
    * every other member is a copy attributed to the (origin_source,
    * copier_source) pair. Self-pairs (origin == copier) measure
    * within-source re-ingestion. The output matrix is the evidence for
    * source-level dedup policy (drop mirror sources wholesale) that the
    * HLL overlap matrix (q195) estimates and this computes exactly.
    *
    * Scale shape: one map-only projection to (key, doc_id, source,
    * n_chars), ONE corpus hash-agg to per-(key, source) rows (count,
    * char mass, min doc + its chars via min_by), then a key-partitioned
    * window on that REDUCED frame picks each cluster's origin; the final
    * agg is |sources|²-bounded. The document text never shuffles — only
    * 32-char keys. */
  def dupAttribution(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perSrc = docs
      .select(exactKeyHash(col("text")).as("norm_h"),
        col("doc_id"), col("source"), col("n_chars"))
      .groupBy("norm_h", "source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"),
        min("doc_id").as("min_doc"),
        min_by(col("n_chars"), col("doc_id")).as("min_doc_chars"))
    val w = Window.partitionBy("norm_h")
    // doc_id is unique, so exactly one (key, source) row holds the
    // cluster-min doc — max(when(...)) is deterministic
    val tagged = perSrc
      .withColumn("keeper_doc", min(col("min_doc")).over(w))
      .withColumn("group_n", sum(col("n")).over(w))
      .withColumn("origin_source",
        max(when(col("min_doc") === col("keeper_doc"), col("source"))).over(w))
    tagged.filter(col("group_n") > 1)
      .withColumn("is_origin_row", col("min_doc") === col("keeper_doc"))
      .withColumn("n_copies",
        col("n") - when(col("is_origin_row"), 1L).otherwise(0L))
      .withColumn("chars_copied",
        col("chars") - when(col("is_origin_row"), col("min_doc_chars"))
          .otherwise(lit(0L)))
      .filter(col("n_copies") > 0)
      .groupBy(col("origin_source"), col("source").as("copier_source"))
      .agg(sum("n_copies").as("n_copied_docs"),
        sum("chars_copied").as("chars_copied"),
        countDistinct(col("norm_h")).as("n_clusters"))
  }

  /** Duplicate-SIZE distribution — the corpus-health report over
    * [[exactByHash]]'s clusters: for every cluster size, how many clusters
    * exist, how many documents they hold, and what permille of the corpus
    * that is. The monitoring surface for duplicate explosions (a crawler
    * stuck on a template shows up as mass shifting to huge sizes long
    * before any per-pair dedup runs).
    *
    * Scale shape: one content-key hash-agg (the exact-dedup shuffle) then
    * a ≤|distinct sizes|-row histogram — the second agg's input is
    * cluster-count-sized, its output log-bounded in practice. */
  def dupSizeHistogram(docs: DataFrame): DataFrame = {
    val hist = exactByHash(docs)
      .groupBy(col("n_copies").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
    val tot = hist.agg(sum("n_docs").as("t"))
    hist.crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("n_docs * 1000 DIV t").as("mass_permille"))
  }

  /** Duplicate-cluster downsampling weights — the soft alternative to
    * dropping duplicates (each copy keeps weight 1/n_copies, so a page
    * duplicated 1000× contributes one page's worth of gradient): every
    * document joins back to its exact-dedup cluster and carries the
    * cluster size, keeper flag, and floor(1000/n) permille weight. The
    * shuffle is keyed on the 128-bit content hash both ways (group, then
    * re-join); document text never moves. */
  def clusterWeights(docs: DataFrame): DataFrame = Graft.cached { cache =>
    // feeds both the group pass and the join-back; cached so the text
    // scan + md5 runs once
    val keyed = cache(docs.select(col("doc_id"), exactKeyHash(col("text")).as("norm_h")))
    val groups = keyed.groupBy("norm_h")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
    keyed.join(groups, Seq("norm_h"))
      .select(col("doc_id"), col("n_copies"),
        (col("doc_id") === col("keeper_id")).as("is_keeper"),
        floor(lit(1000.0) / col("n_copies")).cast("long").as("weight_permille"))
      .localCheckpoint()
  }

  // ---- shingles + minhash ----------------------------------------------------
  /** 3-token shingle hashes: s = ((h0*31 + h1) % P * 31 + h2) % P over the
    * token-hash array. Fused native pass ([[Shingles]], codegen
    * static-call); [[shingleHashesDeclarative]] is the semantics
    * reference, proven element-identical in TokenHashParitySpec. */
  def shingleHashes(text: Column): Column = Shingles.shingles(text)

  /** Declarative reference for [[shingleHashes]]: per-token fold +
    * sliced zip_with (no explode, no shuffle — but interpreted
    * higher-order functions, ~10× the fused pass). */
  def shingleHashesDeclarative(text: Column): Column = {
    val th = tokHashesDeclarative(text)
    val n = size(th)
    val a = slice(th, lit(1), greatest(n - 2, lit(0)))
    val b = slice(th, lit(2), greatest(n - 2, lit(0)))
    val c = slice(th, lit(3), greatest(n - 2, lit(0)))
    zip_with(zip_with(a, b, (x, y) => (x * 31L + y) % P), c,
      (x, z) => (x * 31L + z) % P)
  }

  val NumHashes = 8
  /** MinHash_i over an ALREADY-MATERIALIZED shingle-hash array column:
    * min of (a_i*s + b_i) mod P with a_i = 2i+1, b_i = 7919i + 1. */
  def minhashOver(sh: Column, i: Int): Column =
    array_min(transform(sh, s => (s * (2L * i + 1L) + (7919L * i + 1L)) % P))

  /** Production path: the fused one-pass sketch expression (see
    * [[TokenHash]]); two-step select so the struct computes once. */
  def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TokenHash.sketches(col("text")).as("_sk"))
      .select(
        (col("doc_id") +: (0 until NumHashes).map(i =>
          col(s"_sk.mh$i").as(s"mh$i"))): _*)

  /** Declarative reference implementation (TokenHashParitySpec). Two
    * projections on purpose: the expensive char-level shingle hashing
    * lands in its own Project (CollapseProject refuses to inline a
    * non-cheap expression referenced 8×), so it runs ONCE per row; the 8
    * min-hash passes then scan a small long array. */
  def signaturesDeclarative(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .select(
        (col("doc_id") +: (0 until NumHashes).map(i =>
          minhashOver(col("sh"), i).as(s"mh$i"))): _*)

  /** LSH band signature b over signature columns: pairs of minhashes. */
  def bandSig(b: Int): Column =
    (col(s"mh${2 * b}") * 31L + col(s"mh${2 * b + 1}")) % P

  /** LSH index rows (doc_id, band_idx, band_sig) — at scale this IS a
    * stored table, maintained incrementally as documents arrive, which is
    * what makes batch-vs-index dedup (Curation.incrementalVerdicts)
    * possible without touching the historical corpus. */
  def bandTable(docs: DataFrame): DataFrame = {
    // round-6: one posexplode instead of the 4-way union (the convNearDup
    // pattern): column pruning specialized each union branch to its two
    // minhash fields, but the fields come from ONE opaque sketch struct,
    // so the plan ran the full fused-sketch corpus pass once PER BAND
    // (4 scans — measured in the lshCandidates probe). Same rows; the
    // band_idx from posexplode is the same 0..3 INT the literals carried.
    val sigs = signatures(docs)
    sigs.select(col("doc_id"), posexplode(array(
        (0 until NumHashes / 2).map(b => bandSig(b)): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_sig")
  }

  /** Candidate pairs: docs sharing any band signature (a < b), distinct. */
  def lshCandidates(docs: DataFrame): DataFrame = {
    val bands = bandTable(docs)
    val l = bands.as("l")
    val r = bands.as("r")
    l.join(r, col("l.band_idx") === col("r.band_idx") &&
        col("l.band_sig") === col("r.band_sig") &&
        col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact shingle-set Jaccard (permille) for given pairs — the verify
    * stage after LSH candidate generation. */
  def jaccardPermille(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
      array_distinct(shingleHashes(col("text"))).as("sh"))
    pairs
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      // |A∪B| = |A|+|B|−|A∩B| on the distinct arrays — saves the second
      // O(|A|+|B|) hash pass array_union would spend per candidate
      .withColumn("uni",
        size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long")
          - col("inter"))
      .withColumn("jaccard_permille",
        floor(col("inter") * lit(1000.0) / col("uni")).cast("long"))
      .select("doc_a", "doc_b", "jaccard_permille")
  }

  /** End-to-end near-dup CLUSTERS at the 100 TB shape: LSH-banded
    * candidates (q36's equi-join, no cartesian) → exact-Jaccard verify ≥
    * τ‰ → star-contraction connected components
    * ([[graft.graph.Graphs.connectedComponentsStar]], O(log n) rounds
    * regardless of chain diameter). This is the composition a production
    * dedup pass actually runs — pairs alone under-count (copy-of-copy
    * chains must collapse to ONE keeper), and min-label propagation
    * over the pair graph stalls on exactly those chains. */
  def nearDupClusters(docs: DataFrame,
                      jaccardPermilleMin: Long = 500L): DataFrame = {
    val pairs = jaccardPermille(lshCandidates(docs), docs)
      .filter(col("jaccard_permille") >= jaccardPermilleMin)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.graph.Graphs.connectedComponentsStar(pairs)
  }

  // ---- b-bit minhash ----------------------------------------------------------
  /** b-bit MinHash signatures (Li & König 2010, b = 1): keep only the
    * lowest bit of each of the [[NumHashes]] minhash values and pack them
    * into ONE long — 8 bits of signature instead of 64 bytes. At 100 TB
    * this is the difference between a sketch index that fits in memory
    * and one that doesn't: the per-doc dedup state drops ~64× while pair
    * similarity stays estimable (Pr[bit match] = (1+J)/2 for b=1, so
    * Ĵ = 2·m/k − 1 from m matching bits). */
  def bbitSignatures(docs: DataFrame): DataFrame =
    signatures(docs).select(col("doc_id"),
      (0 until NumHashes).map(i => (col(s"mh$i") % 2L) * (1L << i))
        .reduce(_ + _).as("bbit_sig"))

  /** b-bit similarity SCREEN over LSH candidates: per candidate pair, the
    * popcount-matched bit count and the b-bit Jaccard estimate, alongside
    * the exact shingle Jaccard for calibration. In production the screen
    * sits between LSH banding and the exact verify — pairs whose b-bit
    * estimate is hopeless never pay the shingle-set intersection; the
    * screen itself reads 8 bytes per side. */
  def bbitEstimates(docs: DataFrame): DataFrame = {
    val pairs = lshCandidates(docs)
    val sigs = bbitSignatures(docs)
    jaccardPermille(pairs, docs)
      .join(sigs.select(col("doc_id").as("doc_a"), col("bbit_sig").as("sig_a")),
        "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("bbit_sig").as("sig_b")),
        "doc_b")
      .withColumn("n_match",
        lit(NumHashes.toLong) - expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)"))
      .withColumn("est_jaccard_permille",
        greatest(lit(0L), expr(s"(2 * n_match * 1000) DIV $NumHashes - 1000")))
      .select("doc_a", "doc_b", "n_match", "est_jaccard_permille",
        "jaccard_permille")
  }

  // ---- blocking-quality eval ---------------------------------------------------
  /** Candidate-generation RECALL of the LSH banding, measured against
    * brute-force truth on a deterministic document SAMPLE — the eval that
    * justifies (or indicts) the blocking scheme before anyone trusts its
    * dedup output. True pairs are all sample pairs with exact shingle
    * Jaccard ≥ τ; recall is reported per 100‰ similarity band, because
    * banding recall degrades exactly where it matters (τ-adjacent pairs)
    * and a single global number hides that.
    *
    * Truth comes from [[SetSimJoin.similarPairs]] — the EXACT PPJoin
    * (identical floored-permille Jaccard on the identical distinct-
    * shingle domain; the prefix-filter lemma makes its candidate set
    * complete at τ), so the truth stage is prefix-pruned instead of the
    * r3-era all-pairs crossJoin (round-5: 43× on 10× clone-staged input
    * → tracks the candidate count). Still sample-bounded: the eval runs
    * on the `1/sampleMod` sample, never the production dedup path (that
    * stays [[lshCandidates]]). */
  def blockingRecall(docs: DataFrame, sampleMod: Long = 11L,
                     tauPermille: Long = 500L): DataFrame = {
    val sample = docs.filter(col("doc_id") % sampleMod === 0)
    val truth = SetSimJoin.similarPairs(sample, tauPermille)
      .select(col("doc_a"), col("doc_b"),
        col("jaccard_permille").as("jacc"))
    val cands = lshCandidates(sample).withColumn("caught", lit(1L))
    truth.join(cands, Seq("doc_a", "doc_b"), "left")
      .withColumn("band", expr("jacc DIV 100"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("recall_permille",
        expr("n_caught * 1000 DIV n_true_pairs"))
  }

  /** LSH OPERATING-POINT sweep — [[blockingRecall]] generalized from the
    * shipped banding to the whole (bands b × rows r) design space over the
    * same 8 minhashes: r ∈ {1,2,4,8} (b = 8/r). Per configuration it
    * reports candidate volume (the cost), recall and precision against
    * brute-force τ-truth (the quality) — the measured S-curve trade the
    * b/r choice is usually made from a formula instead. Run BEFORE
    * committing a banding to a 100 TB dedup pass; rerun when the corpus's
    * similarity profile drifts.
    *
    * Same eval-harness contract as [[blockingRecall]], and the same
    * round-5 truth engine: [[SetSimJoin.similarPairs]] (exact PPJoin,
    * identical Jaccard formula, prefix-filter-complete at τ) replaces
    * the all-pairs crossJoin, so truth cost tracks the prefix-collision
    * candidate count instead of sample². The sweep's band joins are
    * equi-joins on (r, band_idx, band_sig) over that same sample. Band
    * signatures fold minhash runs with the [[bandSig]] polynomial, so
    * the r=2 row reproduces the production banding. */
  def lshSweep(docs: DataFrame, sampleMod: Long = 11L,
               tauPermille: Long = 500L): DataFrame = Graft.cached { cache =>
    val sample = docs.filter(col("doc_id") % sampleMod === 0)
    val truth = cache(SetSimJoin.similarPairs(sample, tauPermille)
      .select("doc_a", "doc_b"))
    val sigs = signatures(sample)
    val cands = cache(Seq(1, 2, 4, 8).map { r =>
      // posexplode, not a union of per-band selects — the bandTable
      // lesson: pruned union branches re-run the sketch pass per band
      val bands = sigs.select(col("doc_id"), lit(r.toLong).as("r"),
          posexplode(array((0 until NumHashes / r).map { j =>
            val cols = (0 until r).map(t => col(s"mh${j * r + t}"))
            cols.tail.foldLeft(cols.head)((acc, c) => (acc * 31L + c) % P)
          }: _*)))
        .withColumn("band_idx", col("pos").cast("long"))
        .withColumnRenamed("col", "sig")
        .drop("pos")
      bands.select(col("r"), col("band_idx"), col("sig"),
          col("doc_id").as("doc_a"))
        .join(bands.select(col("r"), col("band_idx"), col("sig"),
          col("doc_id").as("doc_b")), Seq("r", "band_idx", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select("r", "doc_a", "doc_b").distinct()
    }.reduce(_ unionByName _))
    val nTruth = truth.count()
    cands.groupBy("r")
      .agg(count(lit(1)).as("n_candidates"))
      .join(cands.join(truth, Seq("doc_a", "doc_b"))
        .groupBy("r").agg(count(lit(1)).as("n_caught")), Seq("r"), "left")
      .na.fill(0L, Seq("n_caught"))
      .withColumn("bands", expr(s"CAST($NumHashes AS BIGINT) DIV r"))
      .withColumn("n_truth", lit(nTruth))
      .withColumn("recall_permille",
        expr("n_caught * 1000 DIV greatest(n_truth, 1L)"))
      .withColumn("precision_permille",
        expr("n_caught * 1000 DIV greatest(n_candidates, 1L)"))
      .select("r", "bands", "n_candidates", "n_truth", "n_caught",
        "recall_permille", "precision_permille")
      .localCheckpoint()
  }

  // ---- simhash ----------------------------------------------------------------
  val SimBits = 16
  /** 16-bit SimHash over token hashes: bit j set iff the sum of per-token
    * votes (bit j of tokHash ? +1 : -1) is positive. Static per-bit
    * expression columns — fully codegen'd, no UDF. */
  def simhash(text: Column): Column = simhashOver(tokHashes(text))

  /** SimHash over an already-computed token-hash array column — use with a
    * prior projection so the hashing runs once, not 16× (see signatures). */
  def simhashOver(th: Column): Column =
    (0 until SimBits).map { j =>
      val vote = aggregate(th, lit(0L), (acc, x) =>
        acc + when(shiftright(x, j).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Production path: fused sketch expression. */
  def simhashDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TokenHash.sketches(col("text")).getField("simhash").as("simhash"))

  /** Declarative reference (TokenHashParitySpec). */
  def simhashDfDeclarative(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokHashesDeclarative(col("text")).as("th"))
      .select(col("doc_id"), simhashOver(col("th")).as("simhash"))

  /** Hamming distance between two simhash values (bit-count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- n-gram (character) Jaccard ----------------------------------------------
  /** Consecutive-pair character-n-gram Jaccard (permille): the n-gram
    * near-dup measure over adjacent doc ids — two projections so the
    * n-gram hashing runs once per doc side. */
  def ngramJaccardConsecutive(docs: DataFrame): DataFrame = {
    val ng = docs.select(col("doc_id"),
      array_distinct(charNgramHashes(col("text"))).as("ng"))
    val a = ng.select(col("doc_id").as("doc_a"), col("ng").as("ng_a"))
    val b = ng.select(col("doc_id").as("doc_b"), col("ng").as("ng_b"))
    a.join(b, col("doc_a") + 1 === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        floor(size(array_intersect(col("ng_a"), col("ng_b"))).cast("long") * lit(1000.0) /
          size(array_union(col("ng_a"), col("ng_b"))).cast("long")).cast("long")
          .as("jaccard_permille"))
  }

  /** Duplicate-CLUSTER keeper resolution: connected components over the
    * verified near-dup pair graph via iterative min-label propagation
    * (the join-based variant of large-star/small-star). Each doc's keeper
    * is the minimum doc_id reachable through duplicate edges — the step a
    * training-data pipeline runs AFTER near-dup detection to pick one
    * canonical copy per cluster.
    *
    * Scale: each iteration is one equi-join + one aggregation, both keyed
    * on doc ids; near-dup clusters are shallow (pairs/triples), so the
    * fixpoint converges in ~2-3 rounds — `maxIter` bounds the worst case
    * and each round's label frame is lineage-truncated by an eager
    * localCheckpoint (the kCore discipline: persist-only keeps execution
    * cached but nests the previous round's LOGICAL plan inside the next,
    * and Catalyst analysis grows with the round count). */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = Graft.cached { cache =>
    // edges are REPARTITIONED on the join key before caching: the cached
    // InMemoryRelation keeps that hash partitioning, so the per-iteration
    // join never re-shuffles the (static) edge set — only the (shrinking
    // change-front) label side moves each round
    val edges = cache(pairs.select(col("doc_a"), col("doc_b"))
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(col("doc_b")))
    var labels = edges.select(col("doc_a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val prop = edges.join(labels, edges("doc_b") === labels("id"))
        .groupBy(edges("doc_a").as("pid"))
        .agg(min(col("label")).as("nlabel"))
      // carry the old label through so convergence is a filter over the
      // cached frame, not a second join against the previous labels
      val updated = labels.join(prop, labels("id") === prop("pid"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint(true)
      val changed = updated.filter(col("label") =!= col("old")).count()
      labels = updated.select("id", "label")
      converged = changed == 0
      i += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("keeper_id"))
  }

  /** QUALITY-aware canonicalization: within each near-dup cluster keep the
    * highest-scoring copy, not the smallest id — the choice real corpus
    * pipelines make (the min-id keeper of [[duplicateClusters]] is
    * arbitrary; the classifier-best keeper preserves the cleanest
    * rendition of the duplicated content). Every clustered doc comes back
    * with its cluster label, logit, and the `is_best` flag.
    *
    * Scale shape: clusters come from the LSH-bounded pipeline
    * (candidates → Jaccard verify → min-label propagation); the logit
    * join is id-keyed; the best-of window partitions by cluster label —
    * near-dup clusters are shallow, so no partition outgrows its own
    * cluster. Ties break (logit desc, doc_id asc) for a total order. */
  def qualityKeeper(docs: DataFrame,
                    minJaccardPermille: Long = 600L): DataFrame = {
    val pairs = jaccardPermille(lshCandidates(docs), docs)
      .filter(col("jaccard_permille") >= minJaccardPermille)
    val clusters = duplicateClusters(pairs)
    val logits = graft.text.Classifier.score(docs)
      .select(col("doc_id"), col("logit_x1e3"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("logit_x1e3").desc, col("doc_id").asc)
    clusters.select(col("doc_id"), col("keeper_id").as("cluster_id"))
      .join(logits, Seq("doc_id"))
      .withColumn("rk", row_number().over(w))
      .select(col("cluster_id"), col("doc_id"), col("logit_x1e3"),
        (col("rk") === 1).as("is_best"))
  }

  /** GENERAL char-n-gram near-dup pass: exact n-gram Jaccard computed only
    * on LSH candidate pairs — the banding join bounds the pair space, so
    * unlike the consecutive-pair variant this scales to arbitrary corpora
    * (same shape as jaccardPermille, different similarity set). */
  def ngramJaccardCandidates(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val ng = docs.select(col("doc_id"),
      array_distinct(charNgramHashes(col("text"))).as("ng"))
    pairs
      .join(ng.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("ng", "ng_a"), "doc_a")
      .join(ng.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("ng", "ng_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        floor(size(array_intersect(col("ng_a"), col("ng_b"))).cast("long") * lit(1000.0) /
          size(array_union(col("ng_a"), col("ng_b"))).cast("long")).cast("long")
          .as("ngram_jaccard_permille"))
  }

  /** Shingle-set CONTAINMENT (permille) for LSH candidate pairs:
    * |A∩B| / min(|A|,|B|) — the asymmetric near-dup measure that catches
    * subset duplication (a document embedded whole inside a longer one),
    * which symmetric Jaccard under-scores: a 50-shingle doc inside a
    * 1000-shingle doc has Jaccard ≈ 50‰ but containment 1000‰. Runs only
    * on the banding-bounded candidate set, same scale shape as
    * [[jaccardPermille]]. */
  def containmentPermille(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val sh = docs.select(col("doc_id"),
      array_distinct(shingleHashes(col("text"))).as("sh"))
    pairs
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("mn", least(size(col("sh_a")), size(col("sh_b"))).cast("long"))
      .filter(col("mn") > 0)
      .select(col("doc_a"), col("doc_b"),
        floor(col("inter") * lit(1000.0) / col("mn")).cast("long")
          .as("containment_permille"))
  }

  /** Cross-source duplication matrix: LSH candidate pairs labeled with
    * their documents' sources, counted per unordered source pair — the
    * corpus diagnostic that shows WHERE duplication comes from (mirror
    * sites, cross-posted content, intra-source templating on the
    * diagonal). Scale shape: the pair space is already LSH-bounded; the
    * source labels are a two-column projection joined on the doc ids
    * (broadcast when small, sort-merge otherwise), and the final count is
    * a tiny |sources|² aggregate. */
  def crossSourceDupMatrix(docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    lshCandidates(docs)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
      .groupBy(least(col("source_a"), col("source_b")).as("src_lo"),
        greatest(col("source_a"), col("source_b")).as("src_hi"))
      .agg(count(lit(1)).as("n_candidate_pairs"))
  }

  // ---- winnowed fingerprints (MOSS) ------------------------------------------
  /** Winnowing fingerprint selection + cross-doc match census: per window
    * of `w` consecutive shingle hashes keep the RIGHTMOST minimum — the
    * MOSS sampling rule (Schleimer/Wilkerson/Aiken), which guarantees (a)
    * any shared run of ≥ w+k-1 tokens is caught by at least one shared
    * fingerprint and (b) ≤ 1 fingerprint per window, so storage is a
    * bounded ~2/(w+1) fraction of the grams — the density contract
    * [[graft.text.TextAnalysis.fingerprint]]'s single whole-doc hash and
    * [[lshCandidates]]'s fixed-band sampling don't give. Output per doc:
    * gram count, distinct winnowed fingerprints, and how many of those are
    * shared with ≥1 other document (the plagiarism/copy census).
    *
    * Docs shorter than one window (0 < n < w) winnow the whole array as
    * a single window; 0-gram docs keep zero fingerprints.
    *
    * Scale shape: selection is a per-row fused O(n) monotonic-deque pass
    * off the scan ([[Winnow]], whole-stage codegen static call — the
    * interpreted O(n·w) HOF tree it replaced was the #2 bench cost) — no
    * shuffle, no explode of the gram space. Only the DISTINCT winnowed
    * (doc_id, fp) pairs (the ~2/(w+1) sample) explode into the fp
    * hash-agg + equi-join census; texts and gram arrays never move. */
  def winnowStats(docs: DataFrame, w: Int = 4): DataFrame = {
    val perDoc = docs
      .select(col("doc_id"), Winnow.stats(col("text"), w).as("_w"))
      .select(col("doc_id"), col("_w.n_grams").as("n_grams"),
        col("_w.fps").as("fps"))
    winnowCensus(perDoc)
  }

  /** Shared fp census over per-doc (doc_id, n_grams, fps) frames. */
  private def winnowCensus(perDoc: DataFrame): DataFrame = {
    val ex = perDoc.select(col("doc_id"), explode(col("fps")).as("fp"))
    val fpDocs = ex.groupBy("fp").agg(count(lit(1)).as("nd"))
    val shared = ex.join(fpDocs, "fp").groupBy("doc_id")
      .agg(sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
    perDoc
      .select(col("doc_id"), col("n_grams"),
        size(col("fps")).cast("long").as("n_fps"))
      .join(shared, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_shared"))
  }

  /** Declarative reference for [[winnowStats]] — the O(n·w) interpreted
    * argmin-per-window HOF tree, kept as the semantics contract
    * (WinnowParitySpec proves row equality against the fused kernel). */
  def winnowStatsDeclarative(docs: DataFrame, w: Int = 4): DataFrame = {
    // rightmost argmin of sh[start .. start+len-1] (0-based positions):
    // <= keeps the later position on ties, the MOSS tie rule
    def argmin(sh: Column, start: Column, len: Column): Column =
      aggregate(sequence(lit(0L), len.cast("long") - 1L),
        struct(lit(-1L).as("bp"), lit(Long.MaxValue).as("bv")),
        (acc, j) => {
          val p = start.cast("long") + j
          val v = element_at(sh, (p + 1L).cast("int"))
          when(v <= acc.getField("bv"),
            struct(p.as("bp"), v.as("bv"))).otherwise(acc)
        }).getField("bp")
    val withSh = docs.select(col("doc_id"),
      shingleHashes(col("text")).as("sh"))
    val n = size(col("sh"))
    val selPos = when(n === 0, array().cast("array<long>"))
      .when(n < w, array(argmin(col("sh"), lit(0), n)))
      .otherwise(array_distinct(transform(sequence(lit(0L), (n - w).cast("long")),
        i => argmin(col("sh"), i, lit(w)))))
    val perDoc = withSh
      .select(col("doc_id"), col("sh"), selPos.as("selpos"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"),
        array_distinct(transform(col("selpos"),
          p => element_at(col("sh"), (p + 1L).cast("int")))).as("fps"))
    winnowCensus(perDoc)
  }

  /** Character 5-gram hash set via charwise rolling window on the whole
    * normalized text — fused native pass ([[CharNgrams]], codegen
    * static-call; the interpreted HOF tree below is the semantics
    * reference, proven element-identical in CharNgramParitySpec). */
  def charNgramHashes(text: Column, n: Int = 5): Column =
    array_distinct(CharNgrams.hashes(text, n))

  /** Declarative reference for [[charNgramHashes]] (per-char split +
    * per-window aggregate fold — interpreted, ~100× the fused pass at
    * sf1; kept as the parity contract). */
  def charNgramHashesDeclarative(text: Column, n: Int = 5): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    val codes = transform(split(norm, ""), c => ascii(c).cast("long"))
    val m = size(codes)
    // sequence(a,b) is descending when a>b — guard the short-text case
    val starts = when(m >= n, sequence(lit(1), m - (n - 1)))
      .otherwise(array().cast("array<int>"))
    array_distinct(transform(starts, i =>
      aggregate(slice(codes, i, lit(n)), lit(7L), (acc, x) => (acc * 31L + x) % P)))
  }
}
