package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft

/** Sketch-shaped aggregates — the bounded-state summaries a 100 TB pipeline
  * runs INSTEAD of exact single-reducer statistics. Both operators reduce to
  * one hash-aggregate whose output is tiny (events × ≤64 rows), so the
  * expensive pass is map-side-combinable and the final math runs on a frame
  * that fits in one task regardless of input size.
  *
  * Determinism note: every derived number is integer-exact (bit-length
  * buckets, power-of-two sums, integer thresholds), so the DuckDB oracle
  * reproduces the results hash-for-hash — no floating-point drift.
  */
object Sketches {

  /** Log2-histogram percentile estimator over `duration` — the scale path
    * for A5's exact percentiles. Exact `percentile_disc` needs a full sort
    * (or a per-group collect) of every duration value; at 100 TB that is
    * the job. This instead buckets each value by its binary magnitude
    * (`bucket = bitlength(duration)`, i.e. floor(log2)+1 — integer-exact
    * via `bin()`, no FP log), hash-aggregates to a ≤64-row histogram per
    * event, and reads P50/P95/P99 off the cumulative counts. The reported
    * estimate is the bucket's lower bound 2^(bucket-1): a guaranteed
    * ≤2× under-estimate, which is the right trade for monitoring
    * dashboards watching orders of magnitude.
    *
    * Thresholds use IntegralDivide (`ceil(n·p/100)` as `(n·p+99) DIV 100`)
    * so they stay exact past 2^53 rows. */
  def logHistPercentiles(parsed: DataFrame): DataFrame = {
    val hist = parsed
      .filter(col("duration").isNotNull && col("duration") >= 1L)
      .select(col("name"), length(bin(col("duration"))).cast("long").as("bucket"))
      .groupBy("name", "bucket").agg(count(lit(1)).as("n_bucket"))
    // tiny frame from here on: |events| × ≤64 rows
    val byName = Window.partitionBy("name")
    val cum = hist
      .withColumn("cum", sum("n_bucket").over(byName.orderBy("bucket")))
      .withColumn("n", sum("n_bucket").over(byName))
    def bucketAt(p: Int) = {
      val thr = expr(s"(n * $p + 99) DIV 100")
      min(when(col("cum") >= thr, col("bucket"))).as(s"b$p")
    }
    cum.groupBy("name")
      .agg(first(col("n")).as("n_dur"), bucketAt(50), bucketAt(95), bucketAt(99))
      .select(col("name"), col("n_dur"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b50 - 1 AS INT))").as("p50_floor"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b95 - 1 AS INT))").as("p95_floor"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b99 - 1 AS INT))").as("p99_floor"))
  }

  /** HyperLogLog-style distinct-count sketch (m = 64 registers, 26-bit rank
    * field) over a key column, per event name — the mergeable one-pass
    * alternative to `count(distinct key)`, whose exact form shuffles every
    * distinct key. Here the only corpus-sized pass is a hash-aggregate down
    * to (name, register) → max(rank): 64 rows per event, mergeable across
    * partitions/days by taking element-wise max.
    *
    * The hash must avalanche — HLL's rank field reads leading-zero runs,
    * which a charwise polynomial hash does NOT randomize for near-identical
    * keys (sequential conv ids share their high bits and collapse the
    * sketch; measured 4× under-estimate). So the 32-bit value comes from
    * md5: h = int(md5(key)[0:8 hex]); register = h mod 64; v = h div 64
    * (< 2^26); rank = 27 − bitlength(v) (v = 0 → 27). The harmonic
    * denominator is exact Long arithmetic (Σ 2^(27−M_j); empty registers
    * contribute 2^27); the only FP step is the final α·m²·2^27 / S
    * division — done from one shared double constant so Spark and the
    * oracle divide identical numbers.
    *
    * Small-range correction: below 2.5·m with empty registers present, the
    * standard linear-counting estimate m·ln(m/V) applies (V = empty
    * registers). ln is NOT reproducible across engines at the ulp, so the
    * 64 possible values are precomputed once into an integer table
    * ([[HllLinearCounting]]) that both the Spark plan and the oracle SQL
    * embed — the correction becomes a table lookup, bit-exact by
    * construction.
    *
    * The output keeps the sketch internals (non-zero registers, S, raw
    * estimate) plus an accuracy diagnostic vs the exact distinct —
    * affordable at test scale, exactly like the ANN recall@k surface. */
  val HllNumerator: Double = 0.709 * 4096.0 * 134217728.0 // α_64 · m² · 2^27

  /** floor(64·ln(64/V)) for V = 1..64 — the linear-counting estimates. */
  val HllLinearCounting: Array[Long] =
    (1 to 64).map(v => math.floor(64.0 * math.log(64.0 / v)).toLong).toArray

  /** The 64-register state table (name, reg, m) — the MERGEABLE form:
    * element-wise max of two register tables is the register table of the
    * concatenated inputs ([[hllMergeRegs]], proven in SketchesSpec), which
    * is what lets per-day/per-partition sketches fold without re-reading
    * history. */
  def hllRegs(parsed: DataFrame, keyCol: String = "conv_id"): DataFrame =
    hllRanks(parsed, keyCol).groupBy("name", "reg").agg(max("rank").as("m"))

  /** (name, reg, rank) per non-null key: the register a key hashes to and
    * the rank it offers that register. */
  private def hllRanks(parsed: DataFrame, keyCol: String): DataFrame = {
    val h = conv(substring(md5(col(keyCol)), 1, 8), 16, 10).cast("long")
    // low 6 bits pick the register; the high 26 bits feed the rank. A
    // null key has no hash: it would form a (reg = null, m = null) row
    // that hllEstimate counts as a nonzero register
    parsed.filter(col(keyCol).isNotNull)
      .select(col("name"), h.bitwiseAND(lit(63L)).as("reg"),
        shiftright(h, 6).as("v"))
      .withColumn("rank",
        when(col("v") === 0L, 27L)
          .otherwise(lit(27L) - length(bin(col("v")))))
  }

  /** Merge two register tables (element-wise max). */
  def hllMergeRegs(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("name", "reg").agg(max("m").as("m"))

  /** Per-name estimate off a (name, reg, m) register table — the READ side
    * of the sketch, shared by the batch q132, the set-algebra q184, and
    * the streaming [[graft.streaming.HllStream]]. Integer-exact: power-of-
    * two sums, IntegralDivide, table-lookup linear counting. `extra`
    * aggregates over the same per-name group ride along as columns. */
  def hllEstimate(regs: DataFrame, extra: Column*): DataFrame =
    regs.groupBy("name").agg(
      count(lit(1)).as("nonzero_regs"),
      sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(27 - m AS INT))")).as("s_obs") +: extra: _*)
      .withColumn("sum_pow",
        col("s_obs") + (lit(64L) - col("nonzero_regs")) * lit(134217728L))
      .withColumn("hll_raw",
        floor(lit(HllNumerator) / col("sum_pow")).cast("long"))
      .withColumn("hll_est",
        when(col("nonzero_regs") < 64L && col("hll_raw") <= 160L,
          element_at(typedLit(HllLinearCounting),
            (lit(64L) - col("nonzero_regs")).cast("int")))
          .otherwise(col("hll_raw")))
      .drop("s_obs", "hll_raw")

  def hllDistinct(parsed: DataFrame, keyCol: String = "conv_id"): DataFrame = {
    // ONE corpus pass: the registers and the exact diagnostic both come
    // off the distinct (name, key) pairs. max(rank) over duplicates is
    // idempotent, so the registers equal hllRegs(raw); each distinct key
    // lands in exactly one register, so the exact distinct count is the
    // sum of the per-register pair counts. Null keys are not distinct
    // values (countDistinct skips them), so they leave before the pairs.
    val pairs = parsed.select(col("name"), col(keyCol))
      .filter(col(keyCol).isNotNull).distinct()
    val regs = hllRanks(pairs, keyCol).groupBy("name", "reg")
      .agg(max("rank").as("m"), count(lit(1)).as("n"))
    hllEstimate(regs, sum("n").as("exact_distinct"))
      .withColumn("err_x1e3",
        floor(abs(col("hll_est") - col("exact_distinct")) * lit(1000.0)
          / col("exact_distinct")).cast("long"))
      .select("name", "exact_distinct", "nonzero_regs", "sum_pow",
        "hll_est", "err_x1e3")
  }

  /** HLL set algebra between two key populations (q184): union registers
    * are the element-wise MAX of the per-side registers — the defining
    * mergeability property — and the intersection estimate falls out by
    * inclusion-exclusion (clamped at 0; HLL cannot estimate intersections
    * directly). One row out: per-side, union, and intersection estimates
    * next to their exact counterparts. The exact columns are the
    * verification path; at 100 TB you'd run only the sketch columns —
    * three ≤64-row register tables regardless of input size. */
  def hllSetOps(a: DataFrame, b: DataFrame,
                keyCol: String = "conv_id"): DataFrame = {
    val tagged = a.select(lit("a").as("name"), col(keyCol))
      .unionByName(b.select(lit("b").as("name"), col(keyCol)))
    val regs = hllRegs(tagged, keyCol)
    val uRegs = regs.groupBy("reg").agg(max("m").as("m"))
      .select(lit("u").as("name"), col("reg"), col("m"))
    val est = hllEstimate(regs.unionByName(uRegs))
    val wide = est.groupBy().agg(
      max(when(col("name") === "a", col("hll_est"))).as("est_a"),
      max(when(col("name") === "b", col("hll_est"))).as("est_b"),
      max(when(col("name") === "u", col("hll_est"))).as("est_union"))
      .withColumn("est_intersect",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
    val exact = tagged.groupBy().agg(
      countDistinct(when(col("name") === "a", col(keyCol))).as("exact_a"),
      countDistinct(when(col("name") === "b", col(keyCol))).as("exact_b"),
      countDistinct(col(keyCol)).as("exact_union"))
      .withColumn("exact_intersect",
        col("exact_a") + col("exact_b") - col("exact_union"))
    wide.crossJoin(exact).select(
      "est_a", "est_b", "est_union", "est_intersect",
      "exact_a", "exact_b", "exact_union", "exact_intersect")
  }

  /** Rolling k-day distinct (the WAU/DAU family) via the mergeable
    * register grid: per (day, register) max rank off ONE corpus pass,
    * densified to a days×64 grid, then per-register window-MAX over the
    * k-day RANGE frame — merging k daily sketches per day for the cost
    * of a window over an aggregate-sized grid. The exact recount this
    * replaces re-reads k days of raw keys for EVERY output day (k×
    * amplification of the biggest table); the sketch path touches the
    * corpus once and the rolling merge never sees a raw key. RANGE (not
    * ROWS) framing keeps calendar gaps honest — a missing day still ages
    * out of the window on schedule.
    *
    * Output per observed day: the k-day estimate + sketch internals +
    * the exact rolling distinct as the accuracy diagnostic (verification
    * column, affordable at test scale — at 100 TB you'd drop it). */
  def hllRollingDistinct(transcripts: DataFrame, keyCol: String = "conv_id",
                         windowDays: Int = 7): DataFrame = {
    // round-6 note: a shared-distinct formulation (regs + exact arm both
    // reading one distinct (day, key) pass, the hllDistinct rewrite) was
    // A/B'd and REJECTED here: this input is a raw scan (no parse), so
    // the direct map-side-combined register aggregate is cheaper than
    // routing the corpus through a full distinct exchange first
    // (measured 2.0 s old vs 3.0 s shared at sf0.1). hllDistinct keeps
    // the shared pass because its input pays an expensive parse per scan.
    val h = conv(substring(md5(col(keyCol)), 1, 8), 16, 10).cast("long")
    val dayNum = (unix_timestamp(col("ts")) / 86400L).cast("long")
    val dayRegs = transcripts
      .select(dayNum.as("day_num"), h.bitwiseAND(lit(63L)).as("reg"),
        shiftright(h, 6).as("v"))
      .withColumn("rank",
        when(col("v") === 0L, 27L)
          .otherwise(lit(27L) - length(bin(col("v")))))
      .groupBy("day_num", "reg").agg(max("rank").as("m"))
    val days = dayRegs.select("day_num").distinct()
    val grid = days
      .withColumn("reg", explode(sequence(lit(0L), lit(63L))))
      .join(dayRegs, Seq("day_num", "reg"), "left")
      .na.fill(0L, Seq("m"))
    val frame = Window.partitionBy("reg").orderBy(col("day_num"))
      .rangeBetween(-(windowDays - 1L), 0L)
    val rolled = grid.withColumn("mr", max("m").over(frame))
      .filter(col("mr") > 0L)
    val est = hllEstimate(rolled.select(col("day_num").as("name"),
        col("reg"), col("mr").as("m")))
      .withColumnRenamed("name", "day_num")
    val pairs = transcripts
      .select(dayNum.as("kday"), col(keyCol).as("k")).distinct()
    val exact = broadcast(days)
      .join(pairs, col("kday").between(
        col("day_num") - (windowDays - 1L), col("day_num")))
      .groupBy("day_num").agg(countDistinct("k").as("exact_distinct"))
    est.join(exact, Seq("day_num"))
      .withColumn("err_x1e3",
        floor(abs(col("hll_est") - col("exact_distinct")) * lit(1000.0)
          / col("exact_distinct")).cast("long"))
      .select("day_num", "exact_distinct", "nonzero_regs", "sum_pow",
        "hll_est", "err_x1e3")
  }

  /** Pairwise SOURCE-OVERLAP matrix from per-source HLL sketches over the
    * 128-bit content key — "how much of source A's content also appears
    * in source B" for every source pair, the diagnostic that decides
    * which crawl snapshots/mirrors are worth ingesting at all. The
    * |sources|²-pair generalization of [[hllSetOps]]'s single pair.
    *
    * Scale shape: the corpus is read ONCE into per-source register
    * tables (≤64 rows/source, map-side combined — the only corpus-sized
    * work is the scan+md5); every pair's union registers come from an
    * equi-join of the DENSE per-source register grids on the register
    * index (sources × 64 rows — aggregate-sized), so adding a source
    * costs nothing corpus-sized. Cross-source dup-matrix (q92) answers
    * the same question exactly via LSH candidate pairs; this sketch
    * version never shuffles documents at all.
    *
    * Union registers are element-wise MAX (null = absent register loses);
    * intersection by inclusion-exclusion clamped at 0; overlap_permille
    * normalizes by the smaller side (containment, not Jaccard). */
  def sourceOverlapMatrix(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val keyed = docs.select(col("source").as("name"),
      graft.dedup.Dedup.exactKeyHash(col("text")).as("k"))
    val regs = hllRegs(keyed, "k") // (name, reg, m): ≤64 rows per source
    val est = hllEstimate(regs).select(col("name"), col("hll_est"))
    // dense 64-register grid per source so the pair union is a plain
    // equi-join on reg (absent registers surface as null m)
    val grid = regs.select("name").distinct()
      .crossJoin(spark.range(64).select(col("id").as("reg")))
      .join(regs, Seq("name", "reg"), "left")
    val a = grid.select(col("name").as("src_a"), col("reg"), col("m").as("ma"))
    val b = grid.select(col("name").as("src_b"), col("reg"), col("m").as("mb"))
    val uni = a.join(b, Seq("reg")).filter(col("src_a") < col("src_b"))
      // max rank; explicit null arms (mirrors the oracle CASE exactly)
      .withColumn("m",
        when(col("ma").isNull, col("mb"))
          .when(col("mb").isNull, col("ma"))
          .when(col("ma") >= col("mb"), col("ma")).otherwise(col("mb")))
      .groupBy("src_a", "src_b").agg(
        sum(when(col("m").isNotNull, 1L).otherwise(0L)).as("nonzero_regs"),
        sum(when(col("m").isNotNull,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(27 - m AS INT))"))
          .otherwise(0L)).as("s_obs"))
      .withColumn("sum_pow",
        col("s_obs") + (lit(64L) - col("nonzero_regs")) * lit(134217728L))
      .withColumn("hll_raw",
        floor(lit(HllNumerator) / col("sum_pow")).cast("long"))
      .withColumn("est_union",
        when(col("nonzero_regs") < 64L && col("hll_raw") <= 160L,
          element_at(typedLit(HllLinearCounting),
            (lit(64L) - col("nonzero_regs")).cast("int")))
          .otherwise(col("hll_raw")))
    uni
      .join(est.select(col("name").as("src_a"), col("hll_est").as("est_a")),
        Seq("src_a"))
      .join(est.select(col("name").as("src_b"), col("hll_est").as("est_b")),
        Seq("src_b"))
      .withColumn("est_intersect",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"), col("est_intersect"),
        expr("est_intersect * 1000 DIV greatest(least(est_a, est_b), 1)")
          .as("overlap_permille"))
  }

  // ---- Bloom filter ---------------------------------------------------------

  /** Bloom parameters for the shingle prefilter: m = 1024 words × 64 bits
    * = 65536 bits, k = 4 hash functions. At the test corpus' ~15k distinct
    * index shingles the fill is ~0.5, so the false-positive diagnostic arm
    * is non-degenerate; production callers size mWords to their index. */
  val BloomWords = 1024
  val BloomK = 4

  /** The k ≤ 4 bit positions of a key (rendered to its canonical string
    * form by the caller). All k positions slice ONE md5 digest — position
    * i = int(md5(key)[8i : 8i+8 hex]) mod m·64 — so the per-row hash cost
    * is a single md5 regardless of k (the 128-bit digest carries four
    * independent 32-bit fields), and the arithmetic is bit-exact in any
    * engine with md5. */
  def bloomPositions(key: Column, mWords: Int = BloomWords,
                     k: Int = BloomK): Column = {
    require(k <= 4, "k>4 would re-read digest bits")
    val digest = md5(key)
    array((0 until k).map(i =>
      conv(substring(digest, 8 * i + 1, 8), 16, 10)
        .cast("long") % (mWords * 64L)): _*)
  }

  /** Build the Bloom filter WORD TABLE (word → 64-bit mask) over a string
    * key column — the mergeable form: `bit_or` of two word tables is the
    * word table of the concatenated inputs (same element-wise-fold shape as
    * [[hllMergeRegs]], proven in SketchesSpec). The only corpus-sized pass
    * is a hash-aggregate down to ≤ mWords rows (map-side combinable); the
    * result is ~8 KB regardless of input size, so yesterday's index ships
    * to today's batch as a broadcast instead of a join side. */
  def bloomWordTable(keys: DataFrame, keyCol: String,
                     mWords: Int = BloomWords, k: Int = BloomK): DataFrame =
    keys
      .select(explode(bloomPositions(col(keyCol), mWords, k)).as("p"))
      .select(expr("p DIV 64").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").as("b"))
      .groupBy("word").agg(bit_or(col("b")).as("bits"))

  /** Merge two word tables (element-wise bit_or). */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("word").agg(bit_or(col("bits")).as("bits"))

  /** Collapse a word table to ONE row holding the filter as a DENSE
    * word-indexed bits array — the broadcastable probe form. Round-5:
    * this was a word→bits MAP, but Catalyst's `element_at` on MapData is
    * a LINEAR scan (the pq_adc_topk lesson), so every probed row paid
    * k·O(mWords) comparisons; word ids are dense in [0, mWords) by
    * construction, so a positional array makes each probe lookup O(1).
    * Missing words fill with 0 — bit-identical verdicts to the map form
    * (the probe coalesced absent words to 0 already). The hole-filling
    * map is built once per FILTER (one row), never per probed row. */
  def bloomRow(wordTable: DataFrame, mWords: Int = BloomWords): DataFrame =
    wordTable.agg(map_from_entries(
        collect_list(struct(col("word"), col("bits")))).as("bmm"),
        max(col("word")).as("_mx"))
      // size-mismatch guard (ADVICE r5): a table built with MORE words
      // than this collapse's mWords would silently truncate — and the
      // probe's coalesce(…, 0) then yields FALSE NEGATIVES. Fail loudly
      // instead; the check costs one comparison on the 1-row collapse.
      .select(when(col("_mx") >= mWords, expr(
          s"raise_error('bloomRow: word table exceeds mWords=$mWords — " +
            "collapse with the mWords the filter was built with')"))
        .otherwise(transform(sequence(lit(0L), lit(mWords - 1L)),
          w => coalesce(element_at(col("bmm"), w), lit(0L)))).as("bm"))

  /** Probe: add `maybe_member` to a frame with a string key column. The
    * filter arrives as a broadcast 1-row crossJoin (constant-size at any
    * corpus scale) and the probe itself is map-only — the k bit tests are
    * a STATIC conjunction (k is a compile-time parameter), so the whole
    * test stays inside whole-stage codegen with subexpression elimination
    * sharing the md5 digest, instead of an interpreted `forall` loop —
    * and each word fetch is an O(1) positional array index (bm is the
    * dense [[bloomRow]] array; p DIV 64 < mWords by construction, +1 for
    * the 1-based ordinal). No false negatives; false positives at the
    * fill-rate-determined rate. */
  def bloomProbe(batch: DataFrame, keyCol: String, filterRow: DataFrame,
                 mWords: Int = BloomWords, k: Int = BloomK): DataFrame = {
    require(k <= 4, "k>4 would re-read digest bits")
    val m = mWords * 64L
    val tests = (0 until k).map { i =>
      val p = s"(CAST(conv(substring(md5($keyCol), ${8 * i + 1}, 8), 16, 10)" +
        s" AS BIGINT) % $m)"
      s"((shiftright(coalesce(element_at(bm, CAST($p DIV 64 + 1 AS INT))," +
        s" CAST(0 AS BIGINT)), CAST($p % 64 AS INT)) & 1) = 1)"
    }.mkString(" AND ")
    batch
      .crossJoin(broadcast(filterRow))
      .withColumn("maybe_member", expr(tests))
      .drop("bm")
  }

  /** Bloom shingle prefilter — the constant-memory complement of
    * [[graft.dedup.Curation.incrementalVerdicts]]: screen an incoming batch
    * against an ALREADY-INGESTED corpus' shingle set without joining
    * against (or even reading) the corpus. Index side (deterministic
    * doc_id parity stratum here; a stored filter in production) folds to
    * the 8 KB word table; batch side explodes to distinct shingles, probes
    * the broadcast filter map-only, and aggregates per doc. A doc flagging
    * `n_maybe ≥ minShingles` goes to the expensive verify path; the rest —
    * the vast majority at 100 TB — skip it entirely, and Bloom's no-false-
    * negative guarantee means nothing true is skipped. The exact-overlap
    * arm (broadcast semi-join on real index shingles) is the accuracy
    * diagnostic, affordable at test scale — same pattern as HLL/CMS. */
  def bloomPrefilter(docs: DataFrame, minShingles: Int = 3): DataFrame = Graft.cached { cache =>
    // cached: the tokenize+shingle explode feeds BOTH parity branches —
    // without the cache the (expensive) tokenization pass runs twice
    val sh = cache(docs.select(col("doc_id"),
      explode(array_distinct(graft.dedup.Dedup.shingleHashes(col("text"))))
        .as("sh"))
      .withColumn("key", col("sh").cast("string")))
    // cached: the distinct index set feeds BOTH the word-table build and
    // the exact-arm broadcast — without the cache its shuffle runs twice
    val index = cache(sh.filter(col("doc_id") % 2 === 0).select("key", "sh").distinct())
    val filterRow = bloomRow(bloomWordTable(index, "key"))
    // the probe stays PER-INSTANCE (map-only, constant memory): shingle
    // vocabularies grow with the corpus, so a distinct-probe-then-
    // broadcast-verdicts "optimization" would ship a corpus-sized
    // broadcast at 100 TB — the wrong trade even though it would flatter
    // the (replica-heavy) bench corpus
    val batch = sh.filter(col("doc_id") % 2 === 1)
    val probed = bloomProbe(batch, "key", filterRow)
      .join(broadcast(index.select(col("sh").as("ish"))),
        col("sh") === col("ish"), "left")
    probed.groupBy("doc_id").agg(
      count(lit(1)).as("n_shingles"),
      sum(when(col("maybe_member"), 1L).otherwise(0L)).as("n_maybe"),
      sum(when(col("ish").isNotNull, 1L).otherwise(0L)).as("n_true"))
      .withColumn("n_false_pos", col("n_maybe") - col("n_true"))
      .withColumn("needs_verify", col("n_maybe") >= minShingles)
      .localCheckpoint()
  }

  /** Count-min sketch over turn templates (depth 4 × width 256 = 1024
    * bounded counters), probed at the exact top-`topK` hot templates —
    * the mergeable heavy-hitter counter that replaces a full
    * `groupBy(template)` when the template space is unbounded: every
    * partition/day folds into the same 1024 cells by addition.
    *
    * Key = md5 of the digit-normalized turn text (same normalization as
    * [[graft.operators.Conversations.turnTemplates]]); row hashes are
    * md5(i ‖ key) so the 4 rows are independent. The CMS estimate
    * (min over rows) over-counts, never under-counts — `over_permille`
    * is the reported bias vs the exact count, affordable at test scale,
    * exactly like the HLL accuracy diagnostic above.
    *
    * Scale shape: one posexplode(×4) into a 1024-cell hash-agg (map-side
    * combinable); the probe side is a TakeOrderedAndProject top-K (per-
    * partition heads merged on the driver, no global sort) joined against
    * the tiny counter table. */
  /** CMS cell array for a key: depth independent row hashes mod width. */
  def cmsCells(k: Column, width: Int = 256, depth: Int = 4): Column =
    array((0 until depth).map(i =>
      conv(substring(md5(concat(lit(i.toString), k)), 1, 8), 16, 10)
        .cast("long") % width): _*)

  /** Digit-normalized turn-template key (the
    * [[graft.operators.Conversations.turnTemplates]] normalization). */
  def templateKey(text: Column): Column =
    md5(regexp_replace(lower(text), "[0-9]+", "0").cast("binary"))

  /** The (row_idx, cell, cnt) counter table for a keyed frame — the
    * MERGEABLE CMS form: cell-wise SUM of two tables is the table of the
    * concatenated inputs ([[cmsMerge]]), which is what lets per-batch /
    * per-day counters fold without re-reading history. */
  def cmsCounterTable(keyed: DataFrame, width: Int = 256,
                      depth: Int = 4): DataFrame =
    keyed.select(posexplode(cmsCells(col("tkey"), width, depth)))
      .withColumnRenamed("pos", "row_idx").withColumnRenamed("col", "cell")
      .groupBy("row_idx", "cell").agg(count(lit(1)).as("cnt"))

  /** Merge two counter tables (cell-wise sum). */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("row_idx", "cell").agg(sum("cnt").as("cnt"))

  /** CMS point estimates for distinct keys in `keys` (needs a `tkey`
    * col): min over the depth rows — over-counts, never under-counts.
    * Keys absent from every row cell get 0 only if some cell is empty;
    * missing cells count as 0 via the left join + coalesce. */
  def cmsProbe(keys: DataFrame, counters: DataFrame, width: Int = 256,
               depth: Int = 4): DataFrame =
    keys.select(col("tkey"), posexplode(cmsCells(col("tkey"), width, depth)))
      .withColumnRenamed("pos", "row_idx").withColumnRenamed("col", "cell")
      .join(counters, Seq("row_idx", "cell"), "left")
      .groupBy("tkey")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  def cmsHeavyHitters(transcripts: DataFrame, width: Int = 256,
                      depth: Int = 4, topK: Int = 20): DataFrame = {
    val keyed = transcripts.select(templateKey(col("text")).as("tkey"))
    val counters = cmsCounterTable(keyed, width, depth)
    val probes = keyed.groupBy("tkey").agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tkey").asc).limit(topK)
    probes.join(cmsProbe(probes, counters, width, depth), "tkey")
      .select(col("tkey"), col("exact_n"), col("cms_est"),
        floor((col("cms_est") - col("exact_n")) * lit(1000.0)
          / col("exact_n")).cast("long").as("over_permille"))
  }

  // ---- KMV (bottom-k) sketches ----------------------------------------------

  /** KMV sketch size and the hash range (32-bit md5-head values). */
  val KmvK = 32
  val KmvMaxH = 1L << 32

  /** 32-bit content-hash value for KMV: the md5-head convention shared
    * with Layout/Sampling (8 hex chars → BIGINT). */
  def kmvHash(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Per-source KMV (bottom-k / k-minimum-values) sketch over the
    * document content key: the k SMALLEST distinct 32-bit hash values,
    * as a (source, h, rk) table with rk ≤ k. The sketch family's
    * third member beside HLL ([[hllRegs]]) and Bloom: HLL unions but
    * cannot subtract; KMV supports union AND intersection/difference
    * estimates from the same k-row state, at the cost of k longs per
    * source instead of 64 registers.
    *
    * Scale shape: one corpus scan → distinct (source, h) hash-agg
    * (map-side combined, the key is 8 bytes — text never shuffles) →
    * one source-keyed window keeps the k smallest. State is k·|sources|
    * rows regardless of corpus size. */
  def kmvSketch(docs: DataFrame, k: Int = KmvK): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("h")
    docs.select(col("source"), kmvHash(col("text")).as("h"))
      .distinct()
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  /** KMV distinct estimate per source: exact count when the sketch is
    * not full (fewer than k distinct values seen — the sketch IS the
    * value set), else the standard (k−1)·2³²∕h₍ₖ₎ order-statistic
    * estimator, integer-exact via DIV. */
  def kmvEstimates(sketch: DataFrame, k: Int = KmvK): DataFrame =
    sketch.groupBy("source").agg(
        count(lit(1)).as("nv"), max("h").as("hk"))
      .withColumn("kmv_est",
        when(col("nv") < k, col("nv"))
          .otherwise(expr(s"(CAST(${k - 1} AS BIGINT) * ${KmvMaxH}) DIV hk")))

  /** Pairwise KMV set algebra over the per-source sketches: for every
    * source pair, union / intersection / difference distinct estimates
    * plus the sketch-Jaccard — the SUBTRACTIVE overlap matrix HLL's
    * inclusion-exclusion ([[sourceOverlapMatrix]]) can only approximate
    * indirectly. The union sketch is the bottom-k of the merged value
    * sets; a union-sketch value belongs to side X iff it is in X's
    * sketch (any value ≤ the union's kth is ≤ X's kth, so membership in
    * the k-row sketch is membership in X — no corpus re-probe). Jaccard
    * = matched∕|union sketch|; intersection = jaccard · union estimate.
    *
    * All pair math runs on the k·|sources|-row sketch frame — |pairs|·k
    * intermediate rows, aggregate-sized; the corpus was read once by
    * [[kmvSketch]]. */
  def kmvSetOps(docs: DataFrame, k: Int = KmvK): DataFrame = {
    val spark = docs.sparkSession
    val sk = kmvSketch(docs, k)
    val est = kmvEstimates(sk, k)
    val pairs = est.select(col("source").as("src_a"), col("kmv_est").as("est_a"))
      .crossJoin(est.select(col("source").as("src_b"), col("kmv_est").as("est_b")))
      .filter(col("src_a") < col("src_b"))
    // union sketch per pair: merged distinct values, k smallest kept
    val merged = pairs.select("src_a", "src_b")
      .join(sk.select(col("source").as("src_a"), col("h"),
        lit(1L).as("in_a")), Seq("src_a"))
      .unionByName(pairs.select("src_a", "src_b")
        .join(sk.select(col("source").as("src_b"), col("h"),
          lit(2L).as("in_a")), Seq("src_b"))
        .select("src_a", "src_b", "h", "in_a"))
      .groupBy("src_a", "src_b", "h").agg(sum("in_a").as("sides"))
    val wu = org.apache.spark.sql.expressions.Window
      .partitionBy("src_a", "src_b").orderBy("h")
    val uni = merged.withColumn("rk", row_number().over(wu))
      .filter(col("rk") <= k)
      .groupBy("src_a", "src_b").agg(
        count(lit(1)).as("nu"), max("h").as("hku"),
        sum(when(col("sides") === 3L, 1L).otherwise(0L)).as("matched"))
      .withColumn("est_union",
        when(col("nu") < k, col("nu"))
          .otherwise(expr(s"(CAST(${k - 1} AS BIGINT) * ${KmvMaxH}) DIV hku")))
      .withColumn("jaccard_permille", expr("(matched * 1000) DIV nu"))
      .withColumn("est_intersect", expr("(matched * est_union) DIV nu"))
    pairs.join(uni, Seq("src_a", "src_b"))
      .withColumn("est_diff_a",
        greatest(lit(0L), col("est_a") - col("est_intersect")))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union").cast("long").as("est_union"),
        col("jaccard_permille"), col("est_intersect"),
        col("est_diff_a"))
  }

  /** AMS (Alon–Matias–Szegedy) F₂ sketch vs the exact second moment —
    * the STREAMING-SIZED estimator for token-frequency concentration
    * (F₂ = Σ c² is q224's Herfindahl numerator): each estimator keeps
    * ONE running integer S_h = Σ_instances ξ_h(tok) with 4-ish-wise ±1
    * signs, and E[S_h²] = F₂. Eight estimators beside the exact
    * vocabulary-aggregate answer give the calibration a sketch consumer
    * needs before trusting S² at a scale where the exact pass is
    * unaffordable. Signs are popcount-parity of a multiplicatively
    * mixed hash (ξ_h(t) = (−1)^popcount((t·(2h+3)) mod 2²⁰)) — linear
    * parities factor (the q269 lesson), popcount of a product does not.
    *
    * Shape: the 8 running sums are per-row array folds into ONE 1-row
    * aggregate — map-only, mergeable, no vocabulary state; the exact F₂
    * is the one vocabulary-bounded hash-agg (the diagnostic, not the
    * scale path); S² and the error run in DECIMAL(38,0) (S ~ corpus
    * instances, S² past int64 at 10¹² rows). */
  def amsF2(docs: DataFrame, nEst: Int = 8): DataFrame = {
    val th = graft.text.TextAnalysis.tokHashes(col("text"))
    def partial(h: Int): Column = aggregate(col("th"), lit(0L), (acc, t) =>
      acc + when(bit_count(pmod(t * lit(2L * h + 3L), lit(1048576L)))
        % 2 === 0, 1L).otherwise(-1L))
    val sums = docs.select(th.as("th"))
      .agg(sum(partial(0)).as("s0"),
        (1 until nEst).map(h => sum(partial(h)).as(s"s$h")): _*)
    val f2 = docs.select(explode(th).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .agg(sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("f2x"))
    // mean of the 8 squares — the unbiased E[S²]=F₂ summary (the median
    // biases low at small estimator counts when heavy hitters dominate
    // F₂: sign cancellations among the few heavy tokens make S² bimodal)
    val meanExpr = (0 until nEst)
      .map(h => s"CAST(s$h AS DECIMAL(38,0)) * s$h").mkString(" + ")
    sums.crossJoin(broadcast(f2))
      .withColumn("mean_est", expr(s"($meanExpr) DIV $nEst"))
      .select(explode(array((0 until nEst).map(h =>
        struct(lit(h.toLong).as("est_id"), col(s"s$h").as("s_val"))): _*))
        .as("e"), col("f2x"), col("mean_est"))
      .filter(col("f2x") > 0)
      .select(col("e.est_id").as("est_id"), col("e.s_val").as("s_val"),
        // report columns narrow to BIGINT (the error arithmetic below
        // stays DECIMAL-exact; int64 report bound is ~9·10¹⁸)
        expr("CAST(CAST(e.s_val AS DECIMAL(38,0)) * e.s_val AS BIGINT)")
          .as("est_f2"),
        col("f2x").cast("long").as("f2_exact"),
        col("f2x").as("_f2d"), col("mean_est"))
      .withColumn("err_ppm", expr(
        """CAST(abs(CAST(s_val AS DECIMAL(38,0)) * s_val - _f2d)
          | * 1000000 DIV _f2d AS BIGINT)""".stripMargin))
      .withColumn("mean_err_ppm", expr(
        """CAST(abs(CAST(mean_est AS DECIMAL(38,0)) - _f2d)
          | * 1000000 DIV _f2d AS BIGINT)""".stripMargin))
      .drop("_f2d")
  }
}
