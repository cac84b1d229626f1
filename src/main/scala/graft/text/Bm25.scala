package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft

/** BM25 sparse retrieval — the lexical complement of the dense ANN stack
  * (query docs retrieve their lexically-closest corpus docs; the standard
  * first-stage retriever of a RAG / dedup-adjudication pipeline).
  *
  * Scoring is INTEGER-EXACT (same determinism discipline as
  * [[TfIdf.topTerms]]: a correctness gate must not ride on libm-`log`
  * 1-ulp luck, so the `ln`-based idf is replaced by the monotone rational
  * surrogate `(2N − 2df + 1) / (2df + 1)` — the argument of BM25's
  * `ln(1+x)` idf — micro-floored; the Robertson tf saturation
  * `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with k1=1.2, b=0.75 is
  * computed exactly in scaled integers over a micro-quantized length
  * ratio `R = ⌊1e6·dl·N/T⌋`):
  *
  *   tfpart_micro = ⌊1e6 · 44e6·tf / (20e6·tf + 6e6 + 18·R)⌋   (= 1e6·tf-part)
  *   idf_micro    = ⌊1e6 · (2N − 2df + 1) / (2df + 1)⌋
  *   term_score   = ⌊idf_micro · tfpart_micro / 1e6⌋           (DECIMAL(38) product)
  *
  * Scale shape (what survives 100 TB):
  *  - the query side (`doc_id % queryMod = 0`, distinct tokens) is tiny and
  *    BROADCAST; the corpus-wide (doc, tok, tf) stream is filtered to query
  *    tokens by that broadcast join, so the full posting list never
  *    shuffles on anything but its own aggregation key;
  *  - df for a query token needs no corpus-wide vocabulary aggregate: the
  *    filtered posting stream contains exactly the rows that count, so the
  *    (tiny) df aggregate derives from the candidates themselves and
  *    broadcasts back;
  *  - doc lengths join candidates on doc_id (AQE-broadcastable after the
  *    query-token filter); the final (q_id, doc_id) score agg and per-query
  *    top-k window are candidate-sized, not corpus-sized.
  */
object Bm25 {

  /** Inverted-index BUILD: per-term posting statistics + shard assignment
    * — the artifact a sparse retriever serves from (the persisted side of
    * [[topK]]'s on-the-fly posting stream).
    *
    * Per term: document frequency, total term frequency, and the head
    * posting (highest-tf doc, doc_id tie-break — what an impact-ordered
    * index stores first); `shard = tok % shards` is the deterministic
    * index-partition assignment, so one term's posting list always lands
    * whole in one shard.
    *
    * Scale shape: the (doc, tok, tf) aggregation is the one corpus-sized
    * shuffle (map-side combine on the natural key); the per-term window
    * and final aggregate both partition by `tok`, so Catalyst reuses one
    * exchange for rank + stats. Output is vocabulary-sized. */
  def postings(docs: DataFrame, shards: Int = 16): DataFrame = {
    val tf = docs.select(col("doc_id"),
        explode(TextAnalysis.tokHashes(col("text"))).as("tok"))
      .groupBy("tok", "doc_id").agg(count(lit(1)).as("tf"))
    // round-6: the head posting via ONE min-struct aggregate instead of
    // a rank window + second aggregate — the window re-exchanged the
    // full (tok, doc, tf) stream by tok and sorted every posting list in
    // one task per token; the aggregate partial-combines map-side and
    // shuffles |vocabulary| rows. min(struct(-tf, doc_id)) IS the
    // (tf DESC, doc_id ASC) rank-1 row, so values are identical.
    tf.groupBy("tok").agg(
        count(lit(1)).as("df"),
        sum("tf").as("tf_sum"),
        min(struct((-col("tf")).as("ntf"), col("doc_id"))).as("_top"))
      .select(col("tok"), col("df"), col("tf_sum"),
        col("_top.doc_id").as("top_doc_id"),
        (-col("_top.ntf")).as("top_tf"))
      .withColumn("shard", col("tok") % shards)
  }

  /** Positional phrase search — exact 3-gram phrase retrieval over a
    * positional inverted index, the capability BM25's bag-of-words
    * scoring cannot express ("login failed for" as a phrase, not three
    * independent terms). Queries are the first 3 tokens of every
    * queryMod-th document; a corpus document matches where those tokens
    * appear CONSECUTIVELY.
    *
    * Shape: the positional postings (doc, pos, tok) are the one
    * corpus-sized frame. The anchor join probes them with the broadcast
    * query set on the first token — only anchor-term postings survive —
    * then two adjacency self-equi-joins on (doc_id, pos±1) verify the
    * continuation. At 100 TB the postings partition by tok for the
    * anchor probe and by (doc_id) for adjacency — two exchanges of the
    * anchor-filtered sliver, never of the full index. Self-matches
    * (a query doc finding its own opening) are excluded. */
  def phraseSearch(docs: DataFrame, queryMod: Int = 211): DataFrame = Graft.cached { cache =>
    val posAll = docs.select(col("doc_id"),
      posexplode(TextAnalysis.tokHashes(col("text"))).as(Seq("pos", "tok")))
    val q = cache(docs.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("q_id"), TextAnalysis.tokHashes(col("text")).as("th"))
      .filter(size(col("th")) >= 3)
      .select(col("q_id"), col("th")(0).as("t0"), col("th")(1).as("t1"),
        col("th")(2).as("t2")))
    // postings pruned to query terms ONCE — everything downstream runs
    // on the sliver, never the full positional index
    val qterms = q.select(col("t0").as("tok"))
      .unionByName(q.select(col("t1").as("tok")))
      .unionByName(q.select(col("t2").as("tok"))).distinct()
    val pos = cache(posAll.join(broadcast(qterms), Seq("tok"), "left_semi"))
    // anchor each query on its LEAST-FREQUENT term (the classic phrase-
    // eval trick): candidate starts per query shrink from df(first term)
    // to df(rarest term) — on template-heavy corpora the difference is
    // the whole game. Offsets stay explicit so matches are identical.
    val dfq = pos.groupBy("tok").agg(count(lit(1)).as("df"))
    def dfOf(t: String) = {
      val d = dfq.select(col("tok").as(t), col("df").as(s"df_$t"))
      (qq: DataFrame) => qq.join(broadcast(d), Seq(t), "left")
        .withColumn(s"df_$t", coalesce(col(s"df_$t"), lit(0L)))
    }
    val qd = dfOf("t2")(dfOf("t1")(dfOf("t0")(q)))
      .withColumn("anchor_off",
        when(col("df_t0") <= col("df_t1") && col("df_t0") <= col("df_t2"), 0)
          .when(col("df_t1") <= col("df_t2"), 1).otherwise(2))
      .withColumn("anchor_tok",
        when(col("anchor_off") === 0, col("t0"))
          .when(col("anchor_off") === 1, col("t1")).otherwise(col("t2")))
    val anchors = pos.join(broadcast(qd), pos("tok") === qd("anchor_tok"))
      .select(col("q_id"), col("t0"), col("t1"), col("t2"), col("doc_id"),
        (col("pos") - col("anchor_off")).as("start"), col("anchor_off"))
      .filter(col("start") >= 0)
    val p1 = pos.select(col("doc_id").as("d1"), col("pos").as("pos1"),
      col("tok").as("tok1"))
    val p2 = pos.select(col("doc_id").as("d2"), col("pos").as("pos2"),
      col("tok").as("tok2"))
    // verify the two NON-anchor offsets (the anchor position is proven)
    anchors
      .join(p1, col("d1") === col("doc_id")
        && col("pos1") === col("start")
          + when(col("anchor_off") === 0, 1).otherwise(0)
        && col("tok1") === when(col("anchor_off") === 0, col("t1"))
          .otherwise(col("t0")))
      .join(p2, col("d2") === col("doc_id")
        && col("pos2") === col("start")
          + when(col("anchor_off") === 2, 1).otherwise(2)
        && col("tok2") === when(col("anchor_off") === 2, col("t1"))
          .otherwise(col("t2")))
      .filter(col("q_id") =!= col("doc_id"))
      .groupBy("q_id", "doc_id")
      .agg(count(lit(1)).as("n_matches"),
        min("start").cast("long").as("first_pos"))
      .localCheckpoint()
  }

  /** Top-k corpus docs per query doc by integer-exact BM25. */
  def topK(docs: DataFrame, k: Int = 5, queryMod: Int = 211): DataFrame = Graft.cached { cache =>
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokHashes(col("text"))).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

    // corpus constants: N docs, T total tokens (two scalar aggregates)
    val consts = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextAnalysis.tokens(col("text"))).cast("long")).as("t_toks"))

    // query term set: distinct tokens of the query docs (small, broadcast)
    val qterms = docs.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))

    // posting rows for query tokens only — the single corpus-wide pass;
    // cached because it feeds both the df aggregate and the scoring join
    val cand = cache(tf.join(broadcast(qterms.select("tok").distinct()), "tok"))

    // df per query token: the filtered posting stream holds exactly the
    // (doc, tok) pairs that count, so df = its per-token row count
    val dfq = cand.groupBy("tok").agg(count(lit(1)).as("df"))

    // micro-quantized doc-length ratio R = (1e6 * dl * N) DIV T — integer
    // division throughout (long `/` is DOUBLE division in Spark, and a
    // 4.4e16 numerator is past 2^53, so exactness requires IntegralDivide)
    val dls = docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("dl"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"),
        expr("1000000 * dl * n_docs DIV t_toks").as("r_micro"))

    val scored = cand
      .join(broadcast(dfq), "tok")
      .join(dls, "doc_id")
      .join(broadcast(qterms), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(consts.select("n_docs")))
      .withColumn("tfpart_micro",
        expr("44000000000000 * tf DIV (20000000 * tf + 6000000 + 18 * r_micro)"))
      .withColumn("idf_micro",
        expr("1000000 * (2 * n_docs - 2 * df + 1) DIV (2 * df + 1)"))
      // the product can exceed int64 at planetary N — DECIMAL(38,0) before
      // the micro-descale, BIGINT after (DECIMAL DIV returns BIGINT)
      .withColumn("term_score",
        expr("CAST(idf_micro AS DECIMAL(38,0)) * tfpart_micro DIV 1000000"))
      .groupBy("q_id", "doc_id")
      .agg(sum(col("term_score")).as("score_micro"))

    val w = Window.partitionBy("q_id").orderBy(col("score_micro").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("doc_id"), col("score_micro"))
      .localCheckpoint()
  }

  /** Retrieval-quality eval — MRR and precision@k of the BM25 ranking
    * against a deterministic relevance oracle: a result is RELEVANT when
    * it covers ≥ `coverMin`‰ of the query's distinct tokens (the
    * lexical-coverage ground truth every retrieval eval needs before a
    * learned judge exists). Per query: hit count, first relevant rank,
    * precision@k in permille, MRR in micro-units — all integer-exact.
    *
    * Scale shape: the ranking is [[topK]]'s posting-pruned pass; the eval
    * itself only rehydrates the queries×k RESULT docs (the hit list
    * broadcasts into the corpus probe), so judging cost is independent of
    * corpus size. */
  def retrievalEval(docs: DataFrame, k: Int = 5, queryMod: Int = 211,
                    coverMin: Int = 500): DataFrame = {
    val hits = topK(docs, k, queryMod).select("q_id", "rank", "doc_id")
    val qtok = docs.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
    val qsize = qtok.groupBy("q_id").agg(count(lit(1)).as("q_toks"))
    // only the queries×k result docs rehydrate: hits broadcast, the
    // corpus is probed map-side and never shuffles for the eval
    val dtok = docs.select(col("doc_id"), col("text"))
      .join(broadcast(hits), "doc_id")
      .select(col("q_id"), col("rank"), col("doc_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
    val cover = dtok.join(qtok, Seq("q_id", "tok"))
      .groupBy("q_id", "rank", "doc_id").agg(count(lit(1)).as("n_common"))
    hits.join(cover, Seq("q_id", "rank", "doc_id"), "left")
      .join(broadcast(qsize), "q_id")
      .withColumn("relevant",
        expr("coalesce(n_common, 0) * 1000 DIV q_toks") >= coverMin)
      .groupBy("q_id").agg(
        count(lit(1)).as("n_results"),
        sum(when(col("relevant"), 1L).otherwise(0L)).as("n_relevant"),
        min(when(col("relevant"), col("rank"))).as("first_rel_rank"))
      .withColumn("precision_permille", expr(s"n_relevant * 1000 DIV $k"))
      .withColumn("mrr_micro",
        coalesce(expr("1000000 DIV first_rel_rank"), lit(0L)))
  }

  /** Retrieve-then-rerank — the RAG/data-curation two-stage shape: BM25
    * recalls top-k per query, the (stronger, costlier) classifier re-orders
    * just those candidates. Scale design: the candidate id set is
    * queries×k (tiny), so it BROADCASTS into a semi-join that prunes the
    * corpus before any classifier work runs — the second-stage model
    * scores |candidates| docs, never the corpus — and the rerank window
    * partitions candidate-sized data by query. */
  def rerankTopK(docs: DataFrame, k: Int = 5, queryMod: Int = 211): DataFrame = {
    val topk = topK(docs, k, queryMod)
      .withColumnRenamed("rank", "bm25_rank")
    val candIds = topk.select("doc_id").distinct()
    val logits = Classifier.score(
        docs.join(broadcast(candIds), Seq("doc_id"), "left_semi"))
      .select("doc_id", "logit_x1e3")
    val joined = topk.join(broadcast(logits), "doc_id")
    val w = Window.partitionBy("q_id")
      .orderBy(col("logit_x1e3").desc, col("score_micro").desc, col("doc_id"))
    joined.withColumn("rerank", row_number().over(w).cast("long"))
      .select("q_id", "doc_id", "bm25_rank", "score_micro", "logit_x1e3", "rerank")
  }

  /** Ranking-agreement eval between the two stages of [[rerankTopK]] —
    * the diagnostic a retrieval pipeline owes its owner: per query, how
    * much did the reranker actually reorder the BM25 candidates?
    * Kendall-style concordance over all candidate pairs: a pair is
    * concordant when both orderings agree on it. `concordant_permille ==
    * 1000` means the reranker was a no-op; near 500 means it scrambled
    * the recall order (random agreement) — either extreme is a signal
    * (dead reranker / reranker ignoring the recall signal entirely).
    * Only non-negative integers are emitted (signed Kendall τ would hit
    * the floor-vs-truncate divide divergence between engines on negative
    * values; τ = 2·permille/1000 − 1 for anyone who wants it signed).
    *
    * Scale shape: the pairwise self-join runs on the CANDIDATE frame
    * (≤ k rows per query — ≤ k² pairs per query, never corpus-sized),
    * equi-keyed on q_id; both join sides read one exchange of the
    * candidate frame, so the rerank chain executes once. */
  def rankAgreement(docs: DataFrame, k: Int = 5,
                    queryMod: Int = 211): DataFrame = {
    val rr = rerankTopK(docs, k, queryMod)
      .select("q_id", "doc_id", "bm25_rank", "rerank")
    val a = rr.as("a")
    val b = rr.as("b")
    a.join(b, col("a.q_id") === col("b.q_id") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.q_id").as("q_id"),
        ((col("a.bm25_rank") < col("b.bm25_rank")) ===
          (col("a.rerank") < col("b.rerank"))).as("conc"))
      .groupBy("q_id").agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("conc"), 1L).otherwise(0L)).as("n_concordant"))
      .withColumn("n_discordant", col("n_pairs") - col("n_concordant"))
      .withColumn("concordant_permille",
        expr("n_concordant * 1000 DIV n_pairs"))
  }

  /** Truncated rank-biased-overlap constants ⌊(1−p)·p^(d−1)/d·1e6⌋ for
    * depths 1..k at persistence p — the ONE table both engines render
    * (dpCounts pattern). At p=0.9, k=5 the mass is the RBO_min lower
    * bound (≈0.41 of the full infinite-depth measure) — documented
    * truncation, not an approximation error. */
  def rboConstMicro(k: Int, pPermille: Long = 900L): Seq[Long] = {
    // exact rational: 1e6·(1000−pp)·pp^(d−1) / (1000^d · d) in BigInt
    // (a double 1−0.9 is 0.09999…8 and floors the whole table 1 low)
    (1 to k).map { d =>
      val num = BigInt(1000000) * (1000 - pPermille) *
        BigInt(pPermille).pow(d - 1)
      (num / (BigInt(1000).pow(d) * d)).toLong
    }
  }

  /** Rank-biased overlap (Webber et al.) between the BM25 order and the
    * reranked order — the TOP-WEIGHTED agreement measure beside q193's
    * Kendall concordance, which weights all pair swaps equally: RBO
    * discounts depth d by p^(d−1), so disagreement at rank 1 costs ~7×
    * rank 5, matching how ranking quality is actually consumed. Per
    * query: the overlap X_d at each depth and
    * rbo_micro = Σ c_d·X_d with the shared [[rboConstMicro]] constants —
    * integer-exact.
    *
    * Shape: both rankings are the queries×k rerank frame
    * ([[rerankTopK]]); depths unroll as a constant-fanout explode and
    * the overlap counts are one (q, d)-grid hash-agg — candidate-sized
    * everywhere. */
  def rboAgreement(docs: DataFrame, k: Int = 5, queryMod: Int = 211,
                   pPermille: Long = 900L): DataFrame = {
    val c = rboConstMicro(k, pPermille)
    val cCase = (1 to k).map(d => s"WHEN $d THEN ${c(d - 1)}L")
      .mkString("CASE d ", " ", " END")
    val rr = rerankTopK(docs, k, queryMod)
      .select("q_id", "doc_id", "bm25_rank", "rerank")
    val depths = rr.select(col("q_id"), col("doc_id"), col("bm25_rank"),
      col("rerank"), explode(sequence(lit(1), lit(k))).as("d"))
    val xd = depths
      .groupBy("q_id", "d").agg(
        sum(when(col("bm25_rank") <= col("d") && col("rerank") <= col("d"),
          1L).otherwise(0L)).as("x_d"))
    xd.withColumn("c_micro", expr(cCase))
      .groupBy("q_id").agg(
        count(lit(1)).as("n_depths"),
        sum(expr("x_d * c_micro")).as("rbo_micro"),
        max(when(col("d") === k, col("x_d"))).as("overlap_at_k"))
  }

  /** Reciprocal-rank fusion (Cormack/Clarke/Büttcher RRF, the standard
    * hybrid-retrieval merge) of two INDEPENDENT rankers over the same
    * query set: each ranked list contributes `1e6 DIV (kc + rank)` for
    * the docs it ranked, absent docs contribute 0, and the fused order is
    * the contribution sum. Rank-space fusion needs NO score calibration
    * between heterogeneous retrievers — which is why production hybrids
    * (lexical ⊕ semantic) fuse ranks, not scores. Here the two views are
    * [[topK]]'s BM25 (idf- and length-aware) and a raw query-token-
    * COVERAGE ranker (idf/length-blind), so the lists genuinely disagree.
    *
    * Integer-exact: contributions are micro-floored divisions of
    * constants; fused ties break on doc_id; absent ranks surface as 0.
    *
    * Scale shape: each ranker is its own posting-pruned corpus pass (a
    * real hybrid runs its retrievers independently); the fusion itself is
    * a full-outer join of two queries×k lists — broadcast-sized by
    * construction — and the fused window partitions that tiny frame by
    * q_id. Corpus text never shuffles. */
  def rrfFusion(docs: DataFrame, k: Int = 5, queryMod: Int = 211,
                kc: Int = 60): DataFrame = {
    val a = topK(docs, k, queryMod)
      .select(col("q_id"), col("doc_id"), col("rank").as("bm25_rank"))
    // ranker B: distinct shared query tokens (the lexical-coverage view)
    val qterms = docs.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
    val cov = docs.select(col("doc_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
      .join(broadcast(qterms), Seq("tok"))
      .filter(col("doc_id") =!= col("q_id"))
      .groupBy("q_id", "doc_id").agg(count(lit(1)).as("n_common"))
    val wb = Window.partitionBy("q_id")
      .orderBy(col("n_common").desc, col("doc_id"))
    val b = cov.withColumn("cov_rank", row_number().over(wb).cast("long"))
      .filter(col("cov_rank") <= k).select("q_id", "doc_id", "cov_rank")
    val fused = a.join(b, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("bm25_rank", coalesce(col("bm25_rank"), lit(0L)))
      .withColumn("cov_rank", coalesce(col("cov_rank"), lit(0L)))
      .withColumn("rrf_micro",
        when(col("bm25_rank") > 0,
          expr(s"1000000 DIV ($kc + bm25_rank)")).otherwise(0L)
        + when(col("cov_rank") > 0,
          expr(s"1000000 DIV ($kc + cov_rank)")).otherwise(0L))
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf_micro").desc, col("doc_id"))
    fused.withColumn("fused_rank", row_number().over(wf).cast("long"))
      .select("q_id", "doc_id", "bm25_rank", "cov_rank", "rrf_micro",
        "fused_rank")
  }

  /** LEARNING-TO-RANK training-set export — the artifact a search team
    * actually ships to its ranker trainer: one row per (query, BM25
    * candidate) with the feature vector
    * (bm25 score, lexical coverage, length ratio, quality logit) and the
    * weak relevance label ([[retrievalEval]]'s ≥ coverMin‰ coverage
    * criterion, the bootstrap label before human judgments exist). The
    * features deliberately span the three signal families a production
    * LTR model blends: query-dependent lexical, query-independent
    * quality, and shape priors.
    *
    * Shape: candidates are [[topK]]'s posting-pruned pass; everything
    * downstream (coverage grade, lengths, classifier logit) touches only
    * the queries×k result docs via the broadcast hit list — the
    * [[retrievalEval]] cost shape, independent of corpus size. */
  def ltrFeatures(docs: DataFrame, k: Int = 5, queryMod: Int = 211,
                  coverMin: Int = 500): DataFrame = {
    val hits = topK(docs, k, queryMod)
      .select(col("q_id"), col("rank").as("bm25_rank"), col("doc_id"),
        col("score_micro"))
    val qtok = docs.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
    val qsize = qtok.groupBy("q_id").agg(count(lit(1)).as("q_toks"))
    val cand = docs.select(col("doc_id"), col("text"))
      .join(broadcast(hits.select("q_id", "doc_id")), "doc_id")
    val dtok = cand.select(col("q_id"), col("doc_id"),
      explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
    val cover = dtok.join(qtok, Seq("q_id", "tok"))
      .groupBy("q_id", "doc_id").agg(count(lit(1)).as("n_common"))
    val shape = cand.select(col("q_id"), col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("d_toks"))
    val logits = Classifier.score(cand.select("doc_id", "text").distinct())
      .select(col("doc_id"), col("logit_x1e3"))
    hits
      .join(cover, Seq("q_id", "doc_id"), "left")
      .join(shape, Seq("q_id", "doc_id"))
      .join(broadcast(qsize), "q_id")
      .join(logits, "doc_id")
      .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
      .withColumn("len_ratio_permille", expr("d_toks * 1000 DIV q_toks"))
      .withColumn("label",
        when(expr("n_common * 1000 DIV q_toks") >= coverMin, 1L)
          .otherwise(0L))
      .select("q_id", "doc_id", "bm25_rank", "score_micro", "n_common",
        "len_ratio_permille", "logit_x1e3", "label")
  }

  /** Micro-quantized DCG discount table ⌊1e6 / log₂(rank+1)⌋ for ranks
    * 1..k — the ONE place the irrational discounts are floored to
    * integers; both the Spark plan and the DuckDB oracle render their
    * CASE ladders from this table, so cross-engine parity is by
    * construction (the [[graft.operators.Governance.dpNoiseCdfMicro]]
    * shared-constant pattern). */
  def dcgDiscMicro(k: Int): Seq[Long] =
    (1 to k).map(r => (1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)

  /** NDCG@k — GRADED retrieval eval beside [[retrievalEval]]'s binary
    * MRR/precision: gain = distinct query tokens the result covers (the
    * graded lexical relevance), DCG = Σ gain·disc(rank) with the
    * micro-floored [[dcgDiscMicro]] discounts, IDCG re-discounts the same
    * k gains in ideal (gain-descending) order, NDCG = DCG·1000 DIV IDCG.
    * All sums are exact BIGINT products of integer gains and constant
    * discounts — no runtime logarithms, so the gate cannot ride on libm
    * rounding.
    *
    * Scale shape: identical to [[retrievalEval]] — the ranking is
    * [[topK]]'s posting-pruned pass, and only the queries×k RESULT docs
    * rehydrate for grading (hit list broadcasts into the corpus probe);
    * judging cost is independent of corpus size. The ideal-order window
    * partitions the queries×k frame by q_id. */
  def ndcgAtK(docs: DataFrame, k: Int = 5, queryMod: Int = 211): DataFrame = {
    val disc = dcgDiscMicro(k)
    val discCase = (1 to k)
      .map(r => s"WHEN $r THEN ${disc(r - 1)}L").mkString(" ")
    val hits = topK(docs, k, queryMod).select("q_id", "rank", "doc_id")
    val qtok = docs.filter(col("doc_id") % queryMod === 0)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
    val dtok = docs.select(col("doc_id"), col("text"))
      .join(broadcast(hits), "doc_id")
      .select(col("q_id"), col("rank"), col("doc_id"),
        explode(array_distinct(TextAnalysis.tokHashes(col("text")))).as("tok"))
    val cover = dtok.join(qtok, Seq("q_id", "tok"))
      .groupBy("q_id", "rank", "doc_id").agg(count(lit(1)).as("n_common"))
    val graded = hits.join(cover, Seq("q_id", "rank", "doc_id"), "left")
      .withColumn("gain", coalesce(col("n_common"), lit(0L)))
      .withColumn("disc_micro", expr(s"CASE rank $discCase ELSE 0L END"))
    val wi = Window.partitionBy("q_id").orderBy(col("gain").desc, col("doc_id"))
    graded.withColumn("irank", row_number().over(wi))
      .withColumn("idisc_micro", expr(s"CASE irank $discCase ELSE 0L END"))
      .groupBy("q_id").agg(
        count(lit(1)).as("n_results"),
        sum(col("gain") * col("disc_micro")).as("dcg_micro"),
        sum(col("gain") * col("idisc_micro")).as("idcg_micro"))
      .withColumn("ndcg_permille",
        when(col("idcg_micro") > 0,
          expr("dcg_micro * 1000 DIV idcg_micro")).otherwise(0L))
  }
}
