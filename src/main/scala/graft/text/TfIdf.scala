package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft

/** Per-document top terms by tf-idf — the salient-term extraction step
  * (topic tagging, dedup explanations, corpus exploration).
  *
  * Scoring is INTEGER-EXACT: score = tf · floor(1e6·N / df) with reciprocal
  * document frequency as the idf surrogate (same ranking family as
  * unsmoothed tf-idf; chosen over ln(N/df) because the two engines'
  * libm `log` implementations are not bit-identical, and a correctness
  * gate must not ride on 1-ulp luck). Ties break on the token hash.
  *
  * Scale shape: explode → two partial-aggregated shuffles (tf on
  * (doc_id, tok), df on tok) → the df side is VOCABULARY-sized (sublinear
  * in corpus size) and broadcasts back onto tf → per-doc top-k window on
  * the doc_id clustering the tf aggregation already produced.
  */
object TfIdf {

  /** Corpus vocabulary head per language: the k most frequent tokens with
    * counts — the heavy-hitter diagnostic behind tokenizer coverage and
    * language-drift monitoring. Two-level shape: the (lang, token) count
    * aggregates map-side before its shuffle, and the per-language top-k
    * window runs over the (already lang-clustered) aggregate, which is
    * vocabulary-sized — sublinear in the corpus. */
  def vocabTopK(docs: DataFrame, k: Int = 5): DataFrame = {
    val counts = docs
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** SCALABLE twin of [[vocabTopK]] — identical output, different plan:
    * the plain form's per-lang window sorts a whole language's
    * vocabulary in ONE task (fine at millions of terms, a straggler at
    * billions); this two-level TOURNAMENT first takes top-k within each
    * of `fanout` deterministic token-hash cells (each sort task holds
    * vocab/fanout rows), then re-ranks only the surviving
    * langs × fanout × k candidates. Exact, not approximate: every token
    * lives in exactly one cell, so the global top-k is a subset of the
    * cell winners. The classic distributed top-k shape (partial
    * tournament → tiny final), here as two windows sharing the counts
    * aggregate. */
  def vocabTopKScalable(docs: DataFrame, k: Int = 5,
                        fanout: Int = 32): DataFrame = {
    val counts = docs
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
    val w1 = Window.partitionBy(col("lang"),
        pmod(TextAnalysis.tokHash(col("tok")), lit(fanout.toLong)))
      .orderBy(col("n").desc, col("tok"))
    val survivors = counts.withColumn("r1", row_number().over(w1))
      .filter(col("r1") <= k).drop("r1")
    val w2 = Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))
    survivors.withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
  }

  def topTerms(docs: DataFrame, k: Int = 3): DataFrame = Graft.cached { cache =>
    val toks = docs.select(col("doc_id"),
      explode(TextAnalysis.tokHashes(col("text"))).as("tok"))
    // tf feeds BOTH the join and the df aggregate; cached so the
    // explode+hash scan runs exactly once (exchange reuse does not fire
    // across the extra final-agg level here — measured)
    val tf = cache(toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    // df derives from tf — its rows are already distinct (doc, tok) pairs,
    // so a plain count replaces a second scan with a countDistinct
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct("doc_id").as("n_docs"))
    val scored = tf
      .join(broadcast(df), "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf") * floor(lit(1000000L) * col("n_docs") / col("df")).cast("long"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"), col("tf"), col("df"),
        col("score"))
      .localCheckpoint()
  }

  /** Salient-passage selection: each document's most INFORMATIVE
    * fixed-size token window, scored by summed token rarity
    * (Σ over the chunk's DISTINCT tokens of 10⁶ DIV document-frequency)
    * — the lead-bias-free snippet extractor a retrieval/training
    * pipeline uses where "first N tokens" would systematically pick
    * boilerplate openings. Rational rarity instead of log-idf keeps the
    * score integer-exact across engines. Ties break to the earlier
    * chunk.
    *
    * Shape: one (doc, tok) explode for document frequencies
    * (vocabulary-bounded agg), one chunk explode whose (chunk, tok)
    * stream joins the df frame on tok, then a per-doc rank window on
    * the chunk-level frame (≤ len/chunk rows per doc). */
  def salientPassage(docs: DataFrame, chunk: Int = 20): DataFrame = Graft.cached { cache =>
    val toks = cache(docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0))
    val df = toks.select(col("doc_id"),
        explode(array_distinct(col("toks"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val chunks = toks.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), expr(s"CAST((size(toks) - 1) DIV $chunk AS INT)")),
          i => slice(col("toks"), i * chunk + 1, lit(chunk))))
          .as(Seq("chunk_idx", "carr")))
    val scored = chunks
      .select(col("doc_id"), col("chunk_idx"),
        array_join(col("carr"), " ").as("passage"),
        explode(array_distinct(col("carr"))).as("tok"))
      // vocabulary-sized side pinned broadcast (same as topTerms): the
      // (chunk, tok) stream must never shuffle on tok just to meet a
      // frame that is sublinear in the corpus — deterministic at 100×
      // instead of relying on AQE's runtime conversion
      .join(broadcast(df), "tok")
      .groupBy("doc_id", "chunk_idx")
      .agg(first(col("passage")).as("passage"),
        sum(expr("1000000 DIV df")).as("rarity_score"))
    // round-6: rank-1 via ONE min-struct aggregate instead of a per-doc
    // rank window (the postings rewrite): min(struct(-score, chunk_idx,
    // passage)) IS the (score DESC, chunk_idx ASC) first row — chunk_idx
    // is unique per doc, so the passage field never decides a tie — and
    // the aggregate partial-combines map-side where the window paid an
    // exchange + sort of the full chunk stream.
    scored.groupBy("doc_id")
      .agg(min(struct((-col("rarity_score")).as("nr"), col("chunk_idx"),
        col("passage"))).as("_t"))
      .select(col("doc_id"), col("_t.chunk_idx").cast("long").as("chunk_idx"),
        (-col("_t.nr")).as("rarity_score"), col("_t.passage").as("passage"))
      .localCheckpoint()
  }
}
