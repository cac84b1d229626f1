package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Graft
import graft.text.TextAnalysis._

/** Statistical-language-model operators over the documents table: a pruned
  * bigram LM for perplexity-style quality scoring (the KenLM-filter shape
  * every web-scale corpus pipeline runs) and one round of BPE pair-merge
  * mining (the tokenizer-training step).
  *
  * Scale notes:
  *  - Training explodes the corpus to token level — inherently so (that IS
  *    tokenizer/LM training) — but partial hash-aggregation combines counts
  *    map-side, so the exchange carries (hash, count) partials bounded by
  *    per-partition vocabulary, never raw tokens.
  *  - `minCount` pruning is the KenLM prune analog: the model the scoring
  *    join consumes is vocabulary-bounded, so AQE picks a broadcast join at
  *    any corpus size once pruned below the threshold.
  *  - All scores are integer-exact (counts, multiply-then-DIV) — bit-equal
  *    in Spark and DuckDB.
  */
object LangModel {

  /** (doc_id, h1, h2) bigram stream: adjacent token-hash pairs via two
    * slices of the per-row hash array — the explode is the ONLY row
    * multiplication, and it carries two longs per token, not text. */
  def bigramStream(docs: DataFrame): DataFrame = {
    val th = docs.select(col("doc_id"), tokHashes(col("text")).as("th"))
    val n = size(col("th"))
    th.select(col("doc_id"),
        explode(zip_with(
          slice(col("th"), lit(1), greatest(n - 1, lit(0))),
          slice(col("th"), lit(2), greatest(n - 1, lit(0))),
          (a, b) => struct(a.as("h1"), b.as("h2")))).as("pr"))
      .select(col("doc_id"), col("pr.h1"), col("pr.h2"))
  }

  /** Pruned bigram counts over an (h1, h2) pair stream: the LM "model". */
  def bigramCounts(pairs: DataFrame, minCount: Int): DataFrame =
    pairs.groupBy("h1", "h2")
      .agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)

  /** Pruned PREFIX counts over the same pair stream: occurrences of h1 as
    * a bigram prefix (Σ_y c(h1,y)), so p(·|h1) sums to 1. A prefix count
    * dominates every bigram count it heads, so the same `minCount`
    * guarantees each surviving bigram finds its denominator row. */
  def prefixCounts(pairs: DataFrame, minCount: Int): DataFrame =
    pairs.groupBy("h1").agg(count(lit(1)).as("cu"))
      .filter(col("cu") >= minCount)

  /** Per-document LM quality score: the mean conditional bigram
    * probability (permille) under the corpus-trained pruned model —
    * p(h2|h1) = count(h1,h2)·1000 DIV prefixCount(h1), unseen/pruned
    * bigrams score 0. High score = text made of common continuations
    * (fluent / templated); near-zero = improbable token soup. Docs with
    * fewer than two tokens carry no signal and are omitted.
    *
    * Plan shape: the pair stream is cached once (one tokenization
    * pass feeds the model agg, the prefix agg, AND the scoring join —
    * not three corpus re-parses); both count tables are
    * vocabulary-bounded after `minCount`, so AQE broadcasts them; one
    * hash-agg folds back to doc_id. */
  def lmScore(docs: DataFrame, minCount: Int = 2): DataFrame = Graft.cached { cache =>
    val pairs = cache(bigramStream(docs))
    val scored = pairs
      .join(bigramCounts(pairs, minCount), Seq("h1", "h2"), "left")
      .join(prefixCounts(pairs, minCount), Seq("h1"), "left")
      .withColumn("pp",
        when(col("cb").isNotNull, expr("cb * 1000 DIV cu")).otherwise(0L))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("pp")).as("sum_pp"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("sum_pp DIV n_bigrams").as("lm_score_permille"))
      .localCheckpoint()
  }

  /** One round of BPE pair mining per language: the most frequent adjacent
    * character pairs INSIDE tokens — the statistic a byte-pair-encoding
    * tokenizer trainer computes to pick its next merge rule. The per-doc
    * pair stream is built row-local (flatten of per-token windows — no
    * join, no UDF); the corpus-sized pass is one map-side-combinable
    * hash-agg on (lang, pair); the ranking window runs over the tiny
    * aggregated frame (≤ |langs| × |charset|²). Deterministic tie-break:
    * count desc, pair asc. */
  def bpeTopPairs(docs: DataFrame, topK: Int = 5): DataFrame = {
    val pairsOfToken = (t: Column) =>
      when(length(t) >= 2,
        transform(sequence(lit(1), length(t) - 1), i => substring(t, i, lit(2))))
        .otherwise(array().cast("array<string>"))
    val pairStream = docs.select(col("lang"),
        explode(flatten(transform(tokens(col("text")), pairsOfToken))).as("pair"))
    val counted = pairStream.groupBy("lang", "pair")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("n").desc, col("pair").asc)
    counted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  /** The merge table a q135-style miner would emit for this corpus (top
    * first-level pairs plus one second-level rule over a merged symbol —
    * the layering that makes BPE BPE). All rules have x ≠ y, which the
    * q153 oracle's position-marking formulation requires; the x == y case
    * (run parity) is exercised against a Scala reference in LangModelSpec. */
  val DefaultMerges: Seq[(String, String)] =
    Seq(("e", "r"), ("o", "w"), ("i", "n"), ("s", "t"), ("er", "s"))

  /** One greedy-leftmost BPE merge of the symbol pair (x, y) over a symbol
    * array: fold left, fusing the accumulator's last symbol with the
    * current one when they spell the rule. The accumulator is a lambda
    * variable, so each merge level costs ONE expression node chain — no
    * plan-tree blowup. */
  def bpeMergeFold(syms: Column, x: String, y: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === x && s === y,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(x + y))))
        .otherwise(concat(acc, array(s))))

  /** Collocation mining by integer LIFT — which adjacent token pairs
    * co-occur far above chance: lift = P(ab) / (P(a)·P(b)) framed as
    * n_ab·N·1000 DIV (n_a·n_b), the rational stand-in for PMI (PMI's log
    * changes no ranking, and logs break engine parity). bpeTopPairs
    * ranks bigrams by RAW count — frequency finds "of the"; lift finds
    * the pairs that are glued together relative to their parts (named
    * entities, idioms, template fragments). Min support keeps the
    * unstable 1-occurrence tail out.
    *
    * Shape: one bigram explode into a vocabulary²-bounded (Zipf-small)
    * hash-agg + one unigram agg; lift and the global top-k rank run on
    * the filtered aggregate. */
  def collocations(docs: DataFrame, minSupport: Long = 5L,
                   topK: Int = 20): DataFrame = Graft.cached { cache =>
    val toks = cache(docs.select(TextAnalysis.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2))
    val bigrams = toks.select(explode(zip_with(
        slice(col("toks"), 1, Int.MaxValue - 1),
        slice(col("toks"), 2, Int.MaxValue - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .filter(col("bg.w2").isNotNull)
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    val uni = cache(toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w")))
    val total = uni.agg(sum("n_w").as("n_total"))
    val lifted = bigrams
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .crossJoin(broadcast(total))
      .withColumn("lift_x1e3", expr(
        """(CAST(n_ab AS DECIMAL(19,0)) * n_total * 1000)
           DIV (CAST(n_a AS DECIMAL(19,0)) * n_b)"""))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("lift_x1e3").desc, col("w1"), col("w2"))
    lifted.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select("rank", "w1", "w2", "n_ab", "lift_x1e3")
      .localCheckpoint()
  }

  /** Apply a BPE merge table to the corpus and report per-doc compression
    * — the tokenizer-APPLY step that pairs with [[bpeTopPairs]]' training
    * step. The folds run over the DISTINCT vocabulary, not the token
    * stream: a Zipf corpus has orders of magnitude fewer distinct tokens
    * than token instances, so the (interpreted, per-symbol) merge folds
    * cost ∝ |vocabulary| while the corpus-sized work is one broadcast
    * hash lookup per token plus one doc_id hash-agg. Measured on the
    * bench corpus: 47 s (inline folds per instance) → vocabulary form
    * runs the folds ~500× instead of ~2M×. Each merge level is its own
    * column, keeping plan and oracle linear in the rule count. */
  def bpeEncodeStats(docs: DataFrame,
                     merges: Seq[(String, String)] = DefaultMerges): DataFrame = {
    val toksRows = docs.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("tok"))
    val vocab0 = toksRows.select("tok").distinct()
      .withColumn("m0", filter(split(col("tok"), ""), c => c =!= ""))
    val encodedVocab = merges.zipWithIndex.foldLeft(vocab0) {
      case (df, ((x, y), i)) =>
        df.withColumn(s"m${i + 1}", bpeMergeFold(col(s"m$i"), x, y))
    }.select(col("tok"),
      size(col(s"m${merges.length}")).cast("long").as("tok_syms"))
    toksRows.join(broadcast(encodedVocab), Seq("tok"))
      .groupBy("doc_id", "lang").agg(
        sum(length(col("tok"))).as("n_chars"),
        sum(col("tok_syms")).as("n_symbols"))
      .withColumn("compression_permille",
        expr("(n_symbols * 1000) DIV n_chars"))
  }

  /** Tokenizer fertility per language — sub-tokens emitted per word and
    * characters carried per sub-token, the audit that decides whether a
    * tokenizer under-serves a language (high fertility = each word
    * splinters, the model pays more sequence positions for the same
    * text; the standard multilingual-tokenizer-equity metric). Word =
    * whitespace token, sub-token = the BPE-ish pre-tokenizer runs
    * ([[TextAnalysis.bpeCount]]). Integer permille via DIV.
    *
    * Shape: both token counts are per-row expressions off the scan
    * (map-only — no explode, the texts never leave their partitions)
    * into one |langs|-row hash-agg. */
  def fertility(docs: DataFrame): DataFrame =
    docs.select(col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("ws"),
        TextAnalysis.bpeCount(col("text")).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"),
        sum("chars").as("n_chars"))
      .filter(col("ws_tokens") > 0L)
      .withColumn("fertility_x1000", expr("(bpe_tokens * 1000) DIV ws_tokens"))
      .withColumn("chars_per_subtok_x1000",
        expr("(n_chars * 1000) DIV bpe_tokens"))
}
