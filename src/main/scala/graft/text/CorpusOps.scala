package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft

/** Corpus-shaping operators a web-scale training-data pipeline runs after
  * cleaning: fill-in-middle restructuring, quality-quantile bucketing,
  * host/domain rollups, and per-source distribution drift. Everything is
  * integer-exact (permille arithmetic, floor division) so the DuckDB
  * oracle hash-matches bit-for-bit.
  */
object CorpusOps {

  /** Raw whitespace tokens, case preserved (FIM must reconstruct the
    * document verbatim, unlike the lowered analysis tokens) — fused
    * native pass, element-identical to
    * `filter(split(text, "\\s+"), _ =!= "")` (FastTokSpec). */
  private def rawTokens(text: Column): Column = FastTok.rawTokens(text)

  /** Fill-in-middle (PSM order) restructuring: split each document's
    * token stream at n/3 and 2n/3 and emit
    * `<PRE>prefix<SUF>suffix<MID>middle` — the standard FIM training
    * transform (Bavarian et al., "Efficient Training of Language Models to
    * Fill in the Middle"). Documents under 3 tokens pass through with a
    * null fim_text. Map-only: per-row expressions, no shuffle, no UDF —
    * at 100 TB this is a pure scan+project whose cost is the rewrite. */
  def fim(docs: DataFrame): DataFrame = {
    val toks = rawTokens(col("text"))
    val n = size(toks)
    val cut1 = floor(n / 3).cast("int")
    val cut2 = floor(n * 2 / 3).cast("int")
    docs
      .select(col("doc_id"), toks.as("toks"), n.as("n_tokens"),
        cut1.as("c1"), cut2.as("c2"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("c1").cast("long").as("n_prefix"),
        (col("c2") - col("c1")).cast("long").as("n_middle"),
        (col("n_tokens") - col("c2")).cast("long").as("n_suffix"),
        when(col("n_tokens") >= 3,
          concat(lit("<PRE>"),
            array_join(slice(col("toks"), lit(1), col("c1")), " "),
            lit("<SUF>"),
            array_join(slice(col("toks"), col("c2") + 1,
              size(col("toks")) - col("c2")), " "),
            lit("<MID>"),
            array_join(slice(col("toks"), col("c1") + 1,
              col("c2") - col("c1")), " ")))
          .as("fim_text"))
  }

  /** Per-language quality DECILES from the classifier logit — the
    * mixture-construction step that buckets a corpus by quality before
    * sampling. Decile = strict-rank bucket: floor(10 · |{docs in lang with
    * smaller logit}| / n_lang), capped at 9, so equal logits share a
    * bucket and the boundaries are integer-exact.
    *
    * Scale shape: the heavy pass is ONE hash-agg on (lang, logit) — at
    * most |langs| × 2001 groups since the logit is integer permille — the
    * cumulative window runs over that tiny aggregate, and the bucket map
    * broadcast-joins back. No per-document window, no global sort (an
    * ntile over partitionBy(lang) would funnel each language through one
    * reducer — exactly the 100 TB anti-pattern this avoids). */
  def qualityDeciles(docs: DataFrame): DataFrame = Graft.cached { cache =>
    // scored feeds BOTH the distribution pass and the join-back; cached
    // so the token-hash scoring (fused TokenScore pass) runs once
    // (measured 5.6 s → half on the 25k-doc bench corpus)
    val scored = cache(docs.select(col("doc_id"), col("lang"),
      TokenScore.scoreStruct(col("text")).as("_s"))
      .select(col("doc_id"), col("lang"),
        when(col("_s.n_tokens") > 0,
          floor(col("_s.score_sum") * lit(1000.0) / col("_s.n_tokens"))
            .cast("long"))
          .otherwise(lit(0L)).as("logit_x1e3")))
    val dist = scored.groupBy("lang", "logit_x1e3").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy("logit_x1e3")
    val buckets = dist
      .withColumn("below", coalesce(
        sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_lang", sum(col("n")).over(Window.partitionBy("lang")))
      .select(col("lang"), col("logit_x1e3"),
        least(lit(9L), floor(col("below") * lit(10.0) / col("n_lang")).cast("long"))
          .as("decile"))
    scored.join(broadcast(buckets), Seq("lang", "logit_x1e3"))
      .select("doc_id", "lang", "logit_x1e3", "decile")
      .localCheckpoint()
  }

  /** Deterministic synthetic URL for a document — the corpus carries no
    * provenance URL, so both engines derive the same one from
    * (source, doc_id); a real pipeline reads this column from the crawl. */
  def syntheticUrl(source: Column, docId: Column): Column =
    concat(lit("https://"), source, lit("-"), (docId % 13).cast("string"),
      lit(".example.com/doc/"), docId.cast("string"))

  /** URL canonicalization — the crawl-dedup key: lowercase scheme+host,
    * default ports and fragments dropped, tracking parameters (utm_*,
    * fbclid, gclid, ref) removed, remaining query params SORTED (order
    * is presentation, not identity), trailing slashes collapsed. Two
    * fetches of the same page via different campaign links normalize to
    * one key. Pure expression work (regex + array ops) — map-only. */
  def urlNormalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z]+)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(noFrag, "^[a-zA-Z]+://([^/?#]+)", 1)),
      ":(80|443)$", "")
    val path0 = regexp_replace(
      regexp_extract(noFrag, "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val params = array_join(array_sort(filter(
      split(regexp_extract(noFrag, "\\?([^#]*)", 1), "&"),
      p => p =!= "" && !startswith(p, lit("utm_")) &&
        !startswith(p, lit("fbclid=")) && !startswith(p, lit("gclid=")) &&
        !startswith(p, lit("ref=")))), "&")
    concat(scheme, lit("://"), host, path,
      when(params === "", lit("")).otherwise(concat(lit("?"), params)))
  }

  /** URL-level exact dedup over the canonical key: keeper = min doc_id,
    * cluster size per normalized URL — the step before any content-level
    * dedup in a crawl pipeline (refetches of one page under campaign
    * links/fragments collapse for free, no text ever hashed or moved).
    * One hash-agg on the normalized-URL key. */
  def urlDedup(pages: DataFrame, urlCol: String = "url"): DataFrame =
    pages.select(col("doc_id"), urlNormalize(col(urlCol)).as("norm_url"))
      .groupBy("norm_url")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Host/domain rollup — the web-pipeline view every crawl curation run
    * needs (domain blocklists, per-host caps, spam-site detection): parse
    * the host out of the URL, aggregate docs/langs/chars per host, and
    * flag hosts holding more than `hotPermille` of the corpus. One
    * hash-agg on the host key; the corpus total rides a single-row
    * broadcast, so the plan stays two narrow exchanges at any scale. */
  def domainStats(docs: DataFrame, hotPermille: Int = 100): DataFrame = {
    val withHost = docs.select(
      regexp_extract(syntheticUrl(col("source"), col("doc_id")),
        "^https://([^/]+)/", 1).as("host"),
      col("doc_id"), col("lang"), col("n_chars"))
    val agg = withHost.groupBy("host").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("sum_chars"))
    val total = agg.agg(sum(col("n_docs")).as("n_total"))
    agg.crossJoin(broadcast(total))
      .select(col("host"), col("n_docs"), col("n_langs"), col("sum_chars"),
        floor(col("n_docs") * lit(1000.0) / col("n_total")).cast("long")
          .as("share_permille"))
      .withColumn("is_hot", col("share_permille") >= hotPermille)
  }

  /** Temperature-balanced source mixture (α = 0.5): each source's
    * sampling share is proportional to √(its doc count) — the standard
    * α-temperature rebalancing multilingual/multi-source LM training uses
    * to lift low-resource sources without flattening the mix entirely.
    * √counts are milli-quantized to integers BEFORE the normalizing sum
    * (floor(√n · 1000)), so the shares are integer-exact across engines
    * (IEEE sqrt is correctly rounded; summing doubles would not be
    * order-stable). One tiny hash-agg on source; the normalizer rides a
    * single-row broadcast. */
  def temperatureMixture(docs: DataFrame): DataFrame = {
    val bySource = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("sqrt_x1e3", floor(sqrt(col("n_docs")) * lit(1000.0)).cast("long"))
    val tot = bySource.agg(sum(col("n_docs")).as("n_total"),
      sum(col("sqrt_x1e3")).as("sqrt_total"))
    bySource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        floor(col("n_docs") * lit(1000.0) / col("n_total")).cast("long")
          .as("raw_permille"),
        floor(col("sqrt_x1e3") * lit(1000.0) / col("sqrt_total")).cast("long")
          .as("temp_permille"))
  }

  /** Per-source corpus diversity — the mode-collapse / template-spam
    * detector (the cross-doc complement of q136's WITHIN-doc repetition):
    * what fraction of a source's 3-token shingle instances are distinct?
    * A healthy crawl source sits high; a source flooding near-identical
    * boilerplate (or a synthetic-data generator collapsing onto a few
    * templates) collapses toward 0 — the distinct-n-gram diversity that
    * self-BLEU measures, without the quadratic pairwise BLEU.
    *
    * Scale shape: one tokenize+explode pass feeds a single
    * (source)-keyed aggregate — `count` map-side-combines and
    * `count(DISTINCT shingle)` runs as Spark's standard two-phase
    * partial-distinct expansion, both over the same exchange. Exact
    * distinct is the oracle-verified semantics; at 100 TB swap the
    * distinct for the mergeable HLL registers
    * ([[graft.operators.Sketches.hllRegs]]) and keep the same shape. */
  def diversityStats(docs: DataFrame): DataFrame = {
    val inst = docs.select(col("source"),
      explode(graft.dedup.Dedup.shingleHashes(col("text"))).as("sh"))
    inst.groupBy("source").agg(
        count(lit(1)).as("n_shingles"),
        countDistinct(col("sh")).as("n_distinct"))
      .withColumn("distinct_permille",
        expr("n_distinct * 1000 DIV greatest(n_shingles, 1L)"))
      .withColumn("dup_mass_permille",
        lit(1000L) - col("distinct_permille"))
  }

  /** Per-source language-distribution drift vs the corpus: L1 distance in
    * permille between each source's language mix and the global mix — the
    * ingestion-health check that catches a feed whose language balance
    * shifted. Terms are |floor(1000·n_sl/n_s) − floor(1000·n_l/N)| summed
    * over the full source×lang grid (missing cells count the corpus
    * share), all integer-exact.
    *
    * Scale shape: one hash-agg on (source, lang) — the grid is
    * |sources|×|langs|, tiny at any corpus size — then broadcast joins
    * against the three marginal aggregates. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val sl = docs.groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
    val s = sl.groupBy("source").agg(sum(col("n_sl")).as("n_s"))
    val l = sl.groupBy("lang").agg(sum(col("n_sl")).as("n_l"))
    val n = sl.agg(sum(col("n_sl")).as("n_total"))
    val grid = s.crossJoin(broadcast(l)).crossJoin(broadcast(n))
      .join(sl, Seq("source", "lang"), "left")
      .select(col("source"), col("n_s"),
        (floor(coalesce(col("n_sl"), lit(0L)) * lit(1000.0) / col("n_s"))
          - floor(col("n_l") * lit(1000.0) / col("n_total"))).cast("long")
          .as("diff"))
    grid.groupBy("source")
      .agg(first(col("n_s")).as("n_docs"), sum(abs(col("diff"))).as("l1_x1e3"))
  }

  /** Exact interpolated 2×median per key, computed FROM A COUNT HISTOGRAM
    * (key, v, cnt) instead of the raw values — the scale-safe percentile:
    * Spark's exact `percentile` gathers every value of a group into one
    * reducer, which at corpus scale is the per-key single-reducer
    * anti-pattern; when the value domain is bounded (quality logits,
    * deviations), the histogram is aggregate-sized and the two middle
    * order statistics fall out of a cumulative-count window. Returns
    * (key, med_x2) with med_x2 = v_lo + v_hi (an exact integer; /2 is the
    * interpolated median). */
  def medX2FromHist(hist: DataFrame, keyCol: String, vCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(vCol))
    val cum = hist.withColumn("cum", sum("cnt").over(w))
      .withColumn("prev", col("cum") - col("cnt"))
    val n = hist.groupBy(keyCol).agg(sum("cnt").as("n_tot"))
    cum.join(broadcast(n), Seq(keyCol))
      .withColumn("lo", expr("(n_tot - 1) DIV 2"))
      .withColumn("hi", expr("n_tot DIV 2"))
      .groupBy(keyCol).agg(
        (sum(when(col("prev") <= col("lo") && col("lo") < col("cum"),
          col(vCol)).otherwise(0L)) +
          sum(when(col("prev") <= col("hi") && col("hi") < col("cum"),
            col(vCol)).otherwise(0L))).as("med_x2"))
  }

  /** Per-language ROBUST quality z-scores — cross-language quality
    * calibration: the same classifier logit means different things in
    * different languages (training-data volume, tokenization), so
    * per-doc quality is re-expressed as a median/MAD z within its
    * language. Median/MAD over mean±stddev for the same reason as the
    * volume detector (q186): half a language's docs can be spam before
    * the baseline moves.
    *
    * Integer-exact: logits are bounded integers, so the per-lang median
    * comes from a ≤|langs|×2001-row histogram ([[medX2FromHist]] — NOT
    * Spark's exact `percentile`, whose per-group value gather is a
    * single-reducer at corpus scale), deviations are ×2 integers, the MAD
    * from a second bounded histogram, and z_x1e3 = 2000·dev_x2 DIV mad_x4
    * (non-negative, so floor-vs-truncate divide semantics never diverge;
    * `above` carries the sign separately).
    *
    * Scale shape: one map-only scoring pass (cached — feeds the logit
    * histogram and the final frame), two aggregate-sized histograms, two
    * broadcast joins. The corpus never shuffles. */
  def qualityZ(docs: DataFrame, zX1e3Min: Long = 3000L): DataFrame = Graft.cached { cache =>
    val scored = cache(docs.select(col("doc_id"), col("lang"),
        TokenScore.scoreStruct(col("text")).as("_s"))
      .select(col("doc_id"), col("lang"),
        when(col("_s.n_tokens") > 0,
          floor(col("_s.score_sum") * lit(1000.0) / col("_s.n_tokens"))
            .cast("long"))
          .otherwise(lit(0L)).as("logit_x1e3")))
    val lh = scored.groupBy(col("lang"), col("logit_x1e3").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val med = medX2FromHist(lh, "lang", "v")
    val dev = scored.join(broadcast(med), Seq("lang"))
      .withColumn("dev_x2", abs(col("logit_x1e3") * 2 - col("med_x2")))
    val dh = dev.groupBy(col("lang"), col("dev_x2").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val mad = medX2FromHist(dh, "lang", "v")
      .withColumnRenamed("med_x2", "mad_x4")
    dev.join(broadcast(mad), Seq("lang"))
      .withColumn("z_x1e3", expr("dev_x2 * 2 * 1000 DIV greatest(mad_x4, 1L)"))
      .withColumn("above", col("logit_x1e3") * 2 > col("med_x2"))
      .withColumn("is_outlier", col("z_x1e3") >= zX1e3Min)
      .select("doc_id", "lang", "logit_x1e3", "med_x2", "mad_x4",
        "z_x1e3", "above", "is_outlier")
      .localCheckpoint()
  }

  /** Multi-signal quality ENSEMBLE by rank averaging — the standard fix
    * for "every filter has a different scale": each signal (classifier
    * logit, inverted stopword ratio, inverted top-token repetition — all
    * higher-better) converts to its corpus CDF rank via a BOUNDED bucket
    * histogram, and the ensemble is the mean rank. Rank-averaging is
    * scale-free and outlier-robust where z-averaging is neither; bucket
    * granularity (not a corpus-wide sort) is the price that keeps it one
    * map pass at 100 TB.
    *
    * Shape: ONE map pass computes all three signals off the scan
    * (cached, narrow); three ≤41-row histograms + CDF windows; three
    * broadcast probes back. No corpus sort, no per-doc window. */
  def ensembleRank(docs: DataFrame): DataFrame = Graft.cached { cache =>
    val nTok = size(col("toks"))
    val nStop = size(filter(col("toks"),
      t => TextAnalysis.stopwords.map(w => t === w).reduce(_ || _)))
    val stopPm = when(nTok > 0,
      floor(nStop.cast("double") * 1000.0 / nTok).cast("long")).otherwise(0L)
    val topPm = when(size(col("th")) > 0,
      floor(Repetition.topTokenCount(col("th")).cast("double") * 1000.0
        / least(size(col("th")), lit(Repetition.TopTokenWindow))).cast("long"))
      .otherwise(0L)
    val logit = when(col("_s.n_tokens") > 0,
      floor(col("_s.score_sum") * lit(1000.0) / col("_s.n_tokens"))
        .cast("long")).otherwise(0L)
    val sig = cache(docs
      .select(col("doc_id"), TokenScore.scoreStruct(col("text")).as("_s"),
        TextAnalysis.tokens(col("text")).as("toks"),
        TextAnalysis.tokHashes(col("text")).as("th"))
      .select(col("doc_id"), logit.as("logit_x1e3"),
        (lit(1000L) - stopPm).as("stop_inv"), (lit(1000L) - topPm).as("rep_inv")))
    // CDF rank from a bounded histogram: rank = docs strictly below this
    // bucket, as permille of the corpus (bucket-granular by design)
    def cdf(sigCol: String, width: Long): DataFrame = {
      val hist = sig
        .select(floor(col(sigCol) / lit(width.toDouble)).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      val below = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      hist
        .withColumn("below", coalesce(sum("n").over(below), lit(0L)))
        .withColumn("tot", sum("n").over(all))
        .select(col("bucket").as(s"b_$sigCol"),
          expr("below * 1000 DIV tot").as(s"rank_$sigCol"))
    }
    sig
      .withColumn("b_logit_x1e3",
        floor(col("logit_x1e3") / lit(50000.0)).cast("long"))
      .withColumn("b_stop_inv", floor(col("stop_inv") / lit(25.0)).cast("long"))
      .withColumn("b_rep_inv", floor(col("rep_inv") / lit(25.0)).cast("long"))
      .join(broadcast(cdf("logit_x1e3", 50000L)), Seq("b_logit_x1e3"))
      .join(broadcast(cdf("stop_inv", 25L)), Seq("b_stop_inv"))
      .join(broadcast(cdf("rep_inv", 25L)), Seq("b_rep_inv"))
      .withColumn("ensemble_permille",
        expr("(rank_logit_x1e3 + rank_stop_inv + rank_rep_inv) DIV 3"))
      .withColumn("keep", col("ensemble_permille") >= 500L)
      .select(col("doc_id"), col("logit_x1e3"), col("stop_inv"),
        col("rep_inv"), col("rank_logit_x1e3").as("rank_clf"),
        col("rank_stop_inv").as("rank_stop"),
        col("rank_rep_inv").as("rank_rep"),
        col("ensemble_permille"), col("keep"))
      .localCheckpoint()
  }

  /** Pairwise vocabulary drift between sources: total-variation distance
    * (in ppm) between each pair of sources' token-frequency distributions,
    * restricted to the global top-K tokens plus an aggregated OTHER
    * bucket. This is the distribution-SHAPE complement of q117 (which
    * compares language mixes vs the corpus) and q195 (which compares
    * membership via HLL): two feeds can share every token and language
    * and still diverge hard in frequency — template spam, topic shift, a
    * scraper that started hitting a different site section — and TV over
    * the head vocabulary is the standard cheap detector.
    *
    * TV = ½·Σ|p−q| with p/q as integer ppm (cnt·10⁶ DIV total); the OTHER
    * bucket is the exact residual 10⁶ − Σ head ppm, so both engines do
    * identical integer arithmetic — no logs (KL/JS would need them; TV is
    * the rational-exact member of the f-divergence family).
    *
    * Scale shape: ONE explode pass into a (source, tok) hash-agg (the
    * grid is vocabulary-bounded, Zipf-small next to the corpus); the
    * top-K pick is a window over the vocabulary aggregate; everything
    * pairwise runs on the dense |sources|×(K+1) grid — broadcast-sized at
    * any corpus scale. */
  def vocabDrift(docs: DataFrame, k: Int = 20): DataFrame = Graft.cached { cache =>
    // cached: its consumers prune it to different columns, so they would
    // not share the aggregate's exchange
    val counts = cache(docs
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n")))
    val tots = counts.groupBy("source").agg(sum("n").as("tot"))
    val topk = counts.groupBy("tok").agg(sum("n").as("gn"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("gn").desc, col("tok"))))
      .filter(col("rk") <= k).select("tok")
    // dense grid: every source × every head token, absent counts = 0
    val grid = tots.crossJoin(broadcast(topk))
      .join(counts, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        expr("coalesce(n, 0L) * 1000000 DIV tot").as("ppm"))
    val other = grid.groupBy("source")
      .agg((lit(1000000L) - sum("ppm")).as("other_ppm"))
    val a = grid.select(col("source").as("src_a"), col("tok"),
      col("ppm").as("ppm_a"))
    val b = grid.select(col("source").as("src_b"), col("tok"),
      col("ppm").as("ppm_b"))
    // the grid is |sources|×(K+1) — aggregate-sized — but it descends from
    // joins over cached aggregates, so Spark's size estimate is too
    // coarse to pick the broadcast on its own (planned a sort-merge join)
    val headL1 = a.join(broadcast(b), Seq("tok"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(abs(col("ppm_a") - col("ppm_b"))).as("head_l1"))
    headL1
      .join(broadcast(other.select(col("source").as("src_a"),
        col("other_ppm").as("oa"))), "src_a")
      .join(broadcast(other.select(col("source").as("src_b"),
        col("other_ppm").as("ob"))), "src_b")
      .select(col("src_a"), col("src_b"),
        expr("(head_l1 + abs(oa - ob)) DIV 2").as("tv_ppm"))
      .localCheckpoint()
  }

  /** Per-source token-concentration profile: Herfindahl index (collision
    * probability, in ppm) of the token-frequency distribution plus the
    * implied effective vocabulary size (1/HHI, ×1000). diversityStats
    * (q190) reports how much of the stream is DISTINCT; this reports how
    * the mass that remains is DISTRIBUTED — a source can be 99% distinct
    * shingles yet have half its token mass in one token (prompt headers,
    * boilerplate glue), which HHI flags and distinct-fraction cannot.
    * Rational-exact Simpson/Herfindahl (Σc²/N²) instead of Shannon
    * entropy: entropy needs logs and engine-ordered float accumulation,
    * which breaks bit-for-bit oracle parity; 1/HHI is the Hill number of
    * order 2, the standard log-free "effective classes" diversity.
    *
    * Scale shape: the same single (source, tok) hash-agg as vocabDrift;
    * Σc² runs over the vocabulary-bounded aggregate in DECIMAL(38,0) (a
    * long Σc² overflows once any token passes ~3×10⁹ instances). */
  def tokenConcentration(docs: DataFrame): DataFrame = {
    val counts = docs
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))
    counts.groupBy("source").agg(
        sum("n").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("n").cast("decimal(18,0)") * col("n").cast("decimal(18,0)"))
          .as("sum_sq"))
      // DIV (IntegralDivide), not floor(a/b): Spark decimal `/` rounds
      // HALF_UP at the result scale BEFORE the floor, which can cross an
      // integer boundary; DIV computes the exact integral quotient.
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        expr("""(sum_sq * 1000000)
                DIV (CAST(n_tokens AS DECIMAL(18,0)) * n_tokens)""")
          .as("hhi_ppm"),
        expr("""(CAST(n_tokens AS DECIMAL(18,0)) * n_tokens * 1000)
                DIV sum_sq""").as("eff_vocab_x1e3"))
  }
}
