package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft

/** Conversation-level data-quality operators over the transcript table —
  * the checks an agent-transcript training pipeline runs before the
  * corpus ever reaches tokenization.
  *
  * Both are single-exchange shapes: the per-turn window and the per-conv
  * aggregate share the conv_id partitioning (the aggregate sees its child
  * already hash-partitioned on the grouping key, so no second shuffle).
  */
object Conversations {

  /** Dialogue integrity per conversation: turn count, count of adjacent
    * same-role turns (role-alternation violations), and the opening role
    * — the structural validity signal for multi-turn training data. */
  def integrity(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("role") === col("prev_role"), 1L).otherwise(0L))
          .as("n_role_repeats"),
        min(struct(col("turn_idx"), col("role"))).getField("role")
          .as("first_role"))
  }

  /** Daily content-novelty rate — the ingestion-monitoring time series a
    * continuously-fed corpus needs: per calendar day, how many arriving
    * turns carry content never seen before vs repeats of earlier days
    * (a collapsing novelty rate flags a looping scraper or a replayed
    * feed). First-seen day per content hash is one aggregate on the
    * 128-bit key; the day-level rollup joins back on the hash — the wide
    * text never shuffles. */
  def dailyNovelty(transcripts: DataFrame): DataFrame = {
    val t = transcripts.select(
      to_date(col("ts")).as("day"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary")).as("h"))
    val firstSeen = t.groupBy("h").agg(min("day").as("first_day"))
    t.join(firstSeen, Seq("h"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_permille",
        floor(col("n_novel") * lit(1000.0) / col("n_turns")).cast("long"))
  }

  /** Chat-template rendering: one training example per conversation —
    * the transcript → SFT-corpus materialization step. Each turn renders
    * as `<|role|>text`, turns join with `\n` in stable `turn_idx` order
    * (W1 — per-turn text equality under stable ordering is the north-rule
    * invariant this op materializes).
    *
    * Scale shape: ONE exchange keyed on conv_id — inherent, since the
    * output row is the concatenated conversation. Memory per group is
    * bounded by `maxTurns` (over-long conversations truncate BEFORE the
    * shuffle, so a hot conversation cannot blow a task: the 20%-hot-key
    * corpus renders the first `maxTurns` turns and drops the tail — the
    * packing op (q68) is the scale path when full monster conversations
    * must survive).
    */
  def renderChat(transcripts: DataFrame, maxTurns: Int = 4096): DataFrame =
    transcripts
      .filter(col("turn_idx") < maxTurns)
      // round-6: the `<|role|>text` segment renders MAP-SIDE (codegen'd
      // concat per row) instead of inside an interpreted per-element
      // transform over the collected array; the aggregate then only
      // sorts and joins. Same rendered string; the sort key is
      // (turn_idx, seg), equivalent to (turn_idx, role, text) because
      // turn_idx is unique within a conversation (W1).
      .select(col("conv_id"), struct(col("turn_idx"),
        concat(lit("<|"), col("role"), lit("|>"), col("text")).as("seg"))
        .as("tr"))
      .groupBy("conv_id")
      .agg(array_sort(collect_list(col("tr"))).as("turns"))
      .select(col("conv_id"),
        size(col("turns")).cast("long").as("n_turns"),
        array_join(transform(col("turns"), t => t("seg")), "\n")
          .as("rendered"))
      .withColumn("n_chars", length(col("rendered")).cast("long"))

  /** Loss-mask spans for the rendered conversation: per turn, the
    * codepoint span `[span_start, span_end)` its segment occupies inside
    * [[renderChat]]'s output, plus the `train` flag (assistant turns train,
    * everything else is masked) — the supervision-mask computation of an
    * SFT data pipeline, integer-exact so the gate hash-matches.
    *
    * Offsets are a running sum over one per-conversation window (same
    * conv_id exchange as the renderer; segment i starts after all previous
    * segments plus their `\n` separators). */
  def lossMaskSpans(transcripts: DataFrame, maxTurns: Int = 4096): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    transcripts
      .filter(col("turn_idx") < maxTurns)
      .select(col("conv_id"), col("turn_idx"), col("role"),
        (length(col("role")) + length(col("text")) + lit(4)).cast("long")
          .as("seg_len"))
      .withColumn("span_start",
        coalesce(sum(col("seg_len") + 1).over(w), lit(0L)))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("span_start"),
        (col("span_start") + col("seg_len")).as("span_end"),
        (col("role") === "assistant").as("train"))
  }

  /** Merge consecutive same-role turns (the normalization step most chat
    * formats require before templating: N tool chunks → one tool message).
    * Gaps-and-islands: a lag-compare marks role changes, a running sum
    * numbers the islands, and the per-island aggregate joins texts with
    * `\n` in turn order. All three passes share ONE conv_id exchange (the
    * windows and the groupBy use the same partitioning). Output keeps the
    * island's first `turn_idx` and a dense re-index `merged_idx`. */
  def mergeConsecutiveRoles(transcripts: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("conv_id").orderBy("turn_idx")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, 0)
    transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("chg",
        when(lag(col("role"), 1).over(wOrd).isNull ||
             lag(col("role"), 1).over(wOrd) =!= col("role"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("chg")).over(wRun))
      .groupBy("conv_id", "grp")
      .agg(min(col("turn_idx")).as("first_turn_idx"),
        first(col("role")).as("role"),
        count(lit(1)).as("n_merged"),
        array_join(array_sort(collect_list(struct(col("turn_idx"), col("text"))))
          .getField("text"), "\n").as("text"))
      .select(col("conv_id"), (col("grp") - 1).as("merged_idx"),
        col("first_turn_idx"), col("role"), col("n_merged"), col("text"))
  }

  /** Turn-TEMPLATE mining: collapse every digit run to `0` and lowercase,
    * so turns that differ only in ids/counts/addresses share one template
    * key — the generalization of [[cannedTurns]] from exact repeats to
    * templated repeats (the CCNet/RefinedWeb-style boilerplate-template
    * signal over transcripts). Reports each template appearing ≥`minTurns`
    * times across ≥`minConvs`, with its earliest occurrence.
    *
    * Scale shape: ONE hash-aggregate keyed on the 128-bit template hash;
    * the template string rides the aggregation as a constant-per-group
    * payload (map-side partial agg collapses it per partition before the
    * exchange), and the wide ORIGINAL text never shuffles at all. */
  def turnTemplates(transcripts: DataFrame, minTurns: Int = 5,
                    minConvs: Int = 3): DataFrame = {
    val t = transcripts.select(col("conv_id"), col("turn_idx"),
        regexp_replace(lower(col("text")), "[0-9]+", "0").as("tmpl"))
      .withColumn("tkey", md5(col("tmpl").cast("binary")))
      .withColumn("ord",
        concat(col("conv_id"), lit("#"),
          lpad(col("turn_idx").cast("string"), 6, "0")))
    t.groupBy("tkey")
      .agg(min(col("tmpl")).as("tmpl"),
        count(lit(1)).as("n_turns"),
        countDistinct(col("conv_id")).as("n_convs"),
        min_by(col("conv_id"), col("ord")).as("first_conv"),
        min_by(col("turn_idx"), col("ord")).as("first_turn"))
      .filter(col("n_turns") >= minTurns && col("n_convs") >= minConvs)
  }

  /** Conversation-level TEMPLATE dedup: two conversations whose full turn
    * sequences are identical up to digit runs (ids, counts, addresses)
    * collapse to one keeper — the whole-conversation analog of
    * [[turnTemplates]], and the dedup granularity an SFT corpus actually
    * wants (duplicate *conversations* leak across train/val splits even
    * when no single turn is corpus-hot).
    *
    * Key = md5 over the sequence of per-turn `md5(role:template)` hashes
    * in stable turn order. Hashing each turn BEFORE the conversation
    * aggregate matters at scale: the conv_id exchange carries a fixed
    * 32-char hash per turn instead of the turn text (bounded payload even
    * for 100 KB turns); the second exchange is a hash-agg keyed on the
    * 128-bit key where only (key, conv_id) pairs move; the keeper is the
    * smallest conv_id per key. */
  def convDedup(transcripts: DataFrame): DataFrame = {
    // keyed feeds BOTH the group pass and the join-back; both read the
    // conversation aggregation's one exchange (3 narrow cols per conv)
    val keyed = transcripts
      .select(col("conv_id"), col("turn_idx"),
        md5(concat(col("role"), lit(":"),
          regexp_replace(lower(col("text")), "[0-9]+", "0")).cast("binary"))
          .as("th"))
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        array_sort(collect_list(struct(col("turn_idx"), col("th")))).as("turns"))
      .select(col("conv_id"), col("n_turns"),
        md5(array_join(transform(col("turns"), t => t("th")), "")
          .cast("binary")).as("conv_key"))
    val groups = keyed.groupBy("conv_key")
      .agg(min(col("conv_id")).as("keeper_conv"), count(lit(1)).as("n_dups"))
    keyed.join(groups, Seq("conv_key"))
      .select(col("conv_id"), col("conv_key"), col("n_turns"),
        col("keeper_conv"), col("n_dups"),
        (col("conv_id") === col("keeper_conv")).as("is_keeper"))
  }

  /** Preference-pair (DPO/RLHF) export: for every user-prompt TEMPLATE that
    * elicited assistant responses in ≥2 places, pair the best- and
    * worst-scoring responses — the chosen/rejected extraction step of a
    * preference-data pipeline. The prompt key is the digit-normalized
    * user-turn template ([[turnTemplates]]'s normalization); the response
    * is the immediately following assistant turn in the same conversation;
    * response quality is the integer-exact linear-classifier logit
    * ([[graft.text.Classifier]]'s hashed-weight model). Ties break on
    * (conv_id, turn_idx) so chosen/rejected are total.
    *
    * Scale shape: one conv_id exchange for the response `lead`, then one
    * hash-agg keyed on the 128-bit prompt hash carrying only (hash, logit,
    * ids) — neither prompt nor response TEXT ever shuffles; a real export
    * joins the winning (conv_id, turn_idx) pairs back to fetch text. */
  def preferencePairs(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val th = graft.text.TextAnalysis.tokHashes(col("resp_text"))
    val cands = transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
        lead(col("role"), 1).over(w).as("resp_role"),
        lead(col("text"), 1).over(w).as("resp_text"))
      .filter(col("role") === "user" && col("resp_role") === "assistant")
      .select(col("conv_id"), col("turn_idx"),
        md5(regexp_replace(lower(col("text")), "[0-9]+", "0").cast("binary"))
          .as("prompt_key"),
        when(size(th) > 0,
          floor(aggregate(th, lit(0L),
            (acc, h) => acc + graft.text.Classifier.weight(h)) * lit(1000.0)
            / size(th)).cast("long"))
          .otherwise(lit(0L)).as("logit_x1e3"))
    val ranked = struct(col("logit_x1e3"), col("conv_id"), col("turn_idx"))
    cands.groupBy("prompt_key")
      .agg(count(lit(1)).as("n_candidates"),
        max_by(ranked, ranked).as("chosen"),
        min_by(ranked, ranked).as("rejected"))
      .filter(col("n_candidates") >= 2)
      .select(col("prompt_key"), col("n_candidates"),
        col("chosen.conv_id").as("chosen_conv"),
        col("chosen.turn_idx").as("chosen_turn"),
        col("chosen.logit_x1e3").as("chosen_logit"),
        col("rejected.conv_id").as("rejected_conv"),
        col("rejected.turn_idx").as("rejected_turn"),
        col("rejected.logit_x1e3").as("rejected_logit"),
        (col("chosen.logit_x1e3") - col("rejected.logit_x1e3")).as("margin"))
  }

  /** Shared-prefix branching analysis — the trie view of an agent-rollout
    * corpus: at every depth, conversations sharing the same turn-template
    * prefix form a trie node; a node where the NEXT turn diverges is a
    * branch point (a retry, a resample, or a forked rollout). Reports
    * every node shared by ≥2 conversations with its fan-out.
    *
    * The prefix key is a running md5 HASH CHAIN
    * ([[graft.functions.HashChain]]): H_i = md5(H_{i-1} || th_i), O(1)
    * state per row — the md5-of-concatenated-prefix form it replaced is
    * quadratic by SEMANTICS (the prefix string at row i is O(i)) and
    * Spark's unbounded-preceding frame additionally copies the
    * collected buffer per row; the sf1 run measured it stuck 20+ min
    * on the 200k-turn hot conversation. Equal chains ⟺ equal ordered
    * prefixes (md5 collisions aside), so the trie semantics are
    * unchanged; the only exchange is the conv_id window, and the node
    * aggregate then re-keys on the 128-bit (depth, prefix) pair.
    *
    * Skew-dispatch audit (round-4): the chunk+stitch dispatcher does NOT
    * apply here — a running hash chain is order-dependent and
    * non-associative (chunk k's chain values depend on the full incoming
    * chain, unlike lag-1, whose stitch needs only the boundary row), so
    * the hot conversation's window is irreducibly one sorted task. What
    * bounds that task instead: the window carries only (conv_id,
    * turn_idx, 16-byte th) — ~50 B/row — so even a 10⁸-turn conversation
    * sorts ~5 GB, a spill-capable external sort, and the chain aggregate
    * itself is O(1) state per row. The wide payload (text) never enters
    * the window. */
  def branching(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    transcripts
      .select(col("conv_id"), col("turn_idx"),
        md5(concat(col("role"), lit(":"),
          regexp_replace(lower(col("text")), "[0-9]+", "0")).cast("binary"))
          .as("th"))
      .select(col("conv_id"), col("turn_idx"),
        graft.functions.HashChain.over(col("th"), run).as("prefix_key"),
        lead(col("th"), 1).over(w).as("next_th"))
      .groupBy(col("turn_idx").as("depth"), col("prefix_key"))
      .agg(count(lit(1)).as("n_convs"),
        countDistinct(col("next_th")).as("n_children"))
      .filter(col("n_convs") >= 2)
      .withColumn("is_branch_point", col("n_children") >= 2)
  }

  /** Loop detection — the "agent stuck retrying" diagnostic: per
    * conversation, how many turns repeat the previous turn's
    * (role, digit-normalized template) and the longest consecutive
    * repeat run. A run of r identical turns counts r−1 repeats and a
    * run length of r; `loop_flag` fires at runs ≥ 3 (two repeats of the
    * same action is retry noise; three is a loop). Gaps-and-islands on
    * the single conv_id exchange. */
  def loopStats(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val keyed = transcripts
      .select(col("conv_id"), col("turn_idx"),
        concat(col("role"), lit(":"),
          regexp_replace(lower(col("text")), "[0-9]+", "0")).as("tk"))
      .withColumn("rep", (col("tk") === lag(col("tk"), 1).over(w)).cast("long"))
      .withColumn("isl", sum(when(coalesce(col("rep"), lit(0L)) === 0L, 1L)
        .otherwise(0L)).over(run))
    val runs = keyed.groupBy("conv_id", "isl")
      .agg(count(lit(1)).as("run_len"))
    keyed.groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"),
        sum(coalesce(col("rep"), lit(0L))).as("n_repeat_turns"))
      .join(runs.groupBy("conv_id").agg(max(col("run_len")).as("max_run")),
        Seq("conv_id"))
      .withColumn("loop_flag", col("max_run") >= 3)
  }

  /** Context-window fit: keep the longest SUFFIX of turns whose rendered
    * chars (text + 1 separator each) fit `budgetChars` — the truncation
    * every SFT/inference pipeline applies when a conversation outgrows
    * the context window (recent turns matter; openings are droppable).
    * Per turn: chars from the tail through this turn, and the keep flag.
    * One conv_id exchange (a descending running sum). */
  def contextFit(transcripts: DataFrame, budgetChars: Int = 2000): DataFrame = {
    val wDesc = Window.partitionBy("conv_id").orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    transcripts
      .select(col("conv_id"), col("turn_idx"),
        (length(col("text")).cast("long") + 1L).as("turn_chars"))
      .withColumn("tail_chars", sum(col("turn_chars")).over(wDesc))
      .select(col("conv_id"), col("turn_idx"), col("tail_chars"),
        (col("tail_chars") <= budgetChars).as("kept"))
  }

  /** Leak-safe train/val/test SPLIT assignment — the step [[convDedup]]
    * exists to protect: the split is a deterministic hash of the
    * conversation's CONTENT key (not its id), so template-duplicate
    * conversations land in the same split by construction and can never
    * leak across the train/val boundary. Buckets are permille of the
    * polynomial hash of the key; [test | val | train) thresholds in that
    * order. */
  def splitAssign(transcripts: DataFrame, valPermille: Int = 50,
                  testPermille: Int = 50): DataFrame =
    convDedup(transcripts)
      .withColumn("bucket",
        graft.text.TextAnalysis.tokHash(col("conv_key")) % 1000L)
      .withColumn("split",
        when(col("bucket") < testPermille, "test")
          .when(col("bucket") < testPermille + valPermille, "val")
          .otherwise("train"))
      .select("conv_id", "conv_key", "is_keeper", "bucket", "split")

  /** Preference-pair REHYDRATION — the materialization step after
    * [[preferencePairs]]: the winning (conv, turn) coordinates join back
    * to the transcript to fetch the prompt and both response texts. The
    * pair table is prompt-cardinality (small); it broadcasts against the
    * big transcript side three times, so the corpus never re-shuffles —
    * exactly the two-phase shape the id-only export exists to enable. */
  def preferencePairsText(transcripts: DataFrame): DataFrame = {
    val pairs = preferencePairs(transcripts)
    val t = transcripts.select(col("conv_id"), col("turn_idx"), col("text"))
    // the PAIR side broadcasts at every step (each join result stays
    // pair-cardinality); the transcript side only streams
    val j1 = broadcast(pairs)
      .join(t.select(col("conv_id").as("chosen_conv"),
        col("turn_idx").as("chosen_turn"), col("text").as("prompt_text")),
        Seq("chosen_conv", "chosen_turn"))
    val j2 = broadcast(j1)
      .join(t.select(col("conv_id").as("chosen_conv"),
        (col("turn_idx") - 1).as("chosen_turn"), col("text").as("chosen_text")),
        Seq("chosen_conv", "chosen_turn"))
    broadcast(j2)
      .join(t.select(col("conv_id").as("rejected_conv"),
        (col("turn_idx") - 1).as("rejected_turn"), col("text").as("rejected_text")),
        Seq("rejected_conv", "rejected_turn"))
      .select(col("prompt_key"), col("n_candidates"), col("prompt_text"),
        col("chosen_text"), col("rejected_text"), col("margin"))
  }

  /** Per-tool outcome statistics — the tool-health rollup of an agent
    * corpus: for every tool, how often it was invoked, across how many
    * conversations, and how often the FOLLOWING turn contains an error
    * marker (the "this call failed" attribution). One conv_id window for
    * the lookahead, then a hash-agg on the tool key. */
  def toolStats(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    transcripts
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        length(col("text")).cast("long").as("n_chars"),
        lead(lower(col("text")), 1).over(w).as("next_text"))
      .filter(col("tool").isNotNull && col("tool") =!= "")
      .groupBy("tool")
      .agg(count(lit(1)).as("n_calls"),
        countDistinct(col("conv_id")).as("n_convs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("next_text").contains("error"), 1L).otherwise(0L))
          .as("n_err_next"))
      .withColumn("err_permille",
        floor(col("n_err_next") * lit(1000.0) / col("n_calls")).cast("long"))
  }

  /** Canned-turn detection: a turn whose normalized text appears in
    * ≥`minConvs` DISTINCT conversations is "canned" (template greetings,
    * boilerplate tool output); reports per conversation how much of it is
    * canned. The corpus-wide hotness key is the 128-bit content hash, so
    * the wide turn text never shuffles — same scale shape as
    * hash-keyed exact dedup ([[graft.dedup.Dedup.exactByHash]]). */
  def cannedTurns(transcripts: DataFrame, minConvs: Int = 3): DataFrame = {
    val t = transcripts.select(col("conv_id"),
      md5(regexp_replace(lower(col("text")), "\\s+", " ").cast("binary")).as("h"))
    val hot = t.distinct().groupBy("h").agg(count(lit(1)).as("n_convs"))
      .filter(col("n_convs") >= minConvs)
    t.join(hot, Seq("h"), "left")
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_turns"), count(col("n_convs")).as("n_canned"))
      .withColumn("canned_permille",
        floor(col("n_canned") * lit(1000.0) / col("n_turns")).cast("long"))
  }

  /** Cohort retention matrix: conversations bucketed by their first-active
    * day (cohort), counted on every later day they appear — the
    * engagement decay surface a product/rollout owner reads. Plan:
    * distinct (conv, day) pairs (one exchange, days-per-conv bounded by
    * the calendar), min-day per conv reusing the SAME conv_id
    * partitioning, join back, and a final date×date-sized aggregate. */
  def cohortRetention(transcripts: DataFrame): DataFrame = {
    val days = transcripts
      .select(col("conv_id"), to_date(col("ts")).as("day")).distinct()
    val cohorts = days.groupBy("conv_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, Seq("conv_id"))
      .groupBy("cohort_day", "day")
      .agg(countDistinct(col("conv_id")).as("n_active"))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
  }

  /** Role-transition matrix: counts and within-role permille of each
    * (role → next role) step across all conversations — the Markov
    * surface that exposes degenerate rollout loops (assistant→assistant
    * chains, tool storms) at a glance. One conv_id-partitioned window for
    * the lead, then a hash-agg to the |roles|² matrix; the permille
    * normalization windows over that tiny aggregate. */
  def roleTransitions(transcripts: DataFrame): DataFrame = {
    val byConv = Window.partitionBy("conv_id").orderBy("turn_idx")
    val steps = transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"),
        lead(col("role"), 1).over(byConv).as("next_role"))
      .filter(col("next_role").isNotNull)
      .groupBy("role", "next_role").agg(count(lit(1)).as("n"))
    steps.withColumn("permille",
      floor(col("n") * lit(1000.0) /
        sum(col("n")).over(Window.partitionBy("role"))).cast("long"))
  }

  /** NEAR-duplicate conversation detection: MinHash+LSH over each
    * conversation's ordered turn-TEMPLATE sequence — the conversation-level
    * complement of [[convDedup]] (which only catches exact template-sequence
    * matches). Each conversation folds to a set of order-sensitive 2-turn
    * shingles over digit-normalized template hashes; the same banding
    * machinery as [[graft.dedup.Dedup]] turns the O(n²) conversation-pair
    * space into an equi-join on band signatures, and exact shingle Jaccard
    * runs only on colliding pairs.
    *
    * Scale shape: one conv_id exchange builds the (conv, shingle-set) frame
    * — the reduced frame carries ≤|turns| longs per conversation, never
    * text; signatures/bands are per-row expressions; the candidate join is
    * keyed on band signatures (AQE bounds hot buckets); verification is
    * candidate-sized. */
  def convNearDup(transcripts: DataFrame,
                  minJaccardPermille: Long = 100L,
                  maxBucketSize: Long = 64L): DataFrame = Graft.cached { cache =>
    import graft.text.TextAnalysis.P
    import graft.dedup.Dedup
    val h = conv(substring(md5(
      regexp_replace(lower(col("text")), "[0-9]+", "0").cast("binary")),
      1, 8), 16, 10).cast("long")
    val seqs = transcripts
      .select(col("conv_id"), col("turn_idx"), h.as("h"))
      .groupBy("conv_id")
      .agg(transform(
        sort_array(collect_list(struct(col("turn_idx"), col("h")))),
        s => s.getField("h")).as("hs"))
    val n = size(col("hs"))
    // the (conv, shingle-set) frame feeds the signature pass AND both
    // sides of the verify join — cached so the conv_id aggregation runs
    // once, not once per downstream plan copy
    val shx = cache(seqs.select(col("conv_id"),
      when(n >= 2, array_distinct(zip_with(
          slice(col("hs"), lit(1), n - 1), slice(col("hs"), lit(2), n - 1),
          (a, b) => (a * 31L + b) % P)))
        .otherwise(array(element_at(col("hs"), 1))).as("sh")))
    val sigs = shx.select(
      (col("conv_id") +: (0 until Dedup.NumHashes).map(i =>
        Dedup.minhashOver(col("sh"), i).as(s"mh$i"))): _*)
    // one posexplode instead of a 4-way union: the signature projection
    // appears once in the plan instead of once per band
    val bandsAll = sigs
      .select(col("conv_id"), posexplode(array(
        (0 until Dedup.NumHashes / 2).map(b => Dedup.bandSig(b)): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_sig")
    // drop OVERSIZED buckets before the self-join: a band signature shared
    // by hundreds of conversations is non-discriminative (templated
    // corpora produce them) and would blow the candidate space O(bucket²)
    // — the standard LSH hot-bucket guard; cached because both join
    // sides consume it
    val bands = cache(bandsAll
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy("band_idx", "band_sig")))
      .filter(col("bn") <= maxBucketSize).drop("bn"))
    val cand = bands.as("l")
      .join(bands.as("r"), col("l.band_idx") === col("r.band_idx") &&
        col("l.band_sig") === col("r.band_sig") &&
        col("l.conv_id") < col("r.conv_id"))
      .select(col("l.conv_id").as("conv_a"), col("r.conv_id").as("conv_b"))
      .distinct()
    cand
      .join(shx.select(col("conv_id").as("conv_a"), col("sh").as("sh_a")), "conv_a")
      .join(shx.select(col("conv_id").as("conv_b"), col("sh").as("sh_b")), "conv_b")
      .withColumn("jaccard_permille",
        floor(size(array_intersect(col("sh_a"), col("sh_b"))).cast("long") * lit(1000.0)
          / size(array_union(col("sh_a"), col("sh_b"))).cast("long")).cast("long"))
      .filter(col("jaccard_permille") >= minJaccardPermille)
      .select("conv_a", "conv_b", "jaccard_permille")
      .localCheckpoint()
  }

  /** Conversation outcome funnel over the PARSED frame: per conversation,
    * did a user engage → was a tool used → did an error occur → did the
    * assistant speak again AFTER the last error (the "recovered" signal a
    * rollout-quality dashboard keys on). One hash-agg per conv_id computes
    * all stage flags (max-over-condition — no windows, no second pass over
    * the corpus), then a tiny global fold emits the funnel row. The
    * recovery comparison (max assistant turn > max error turn) happens on
    * the per-conv aggregate, so turn ordering never needs a sort. */
  def funnel(parsed: DataFrame): DataFrame = {
    val perConv = parsed.groupBy("conv_id").agg(
      max(when(col("role") === "user", 1L).otherwise(0L)).as("engaged"),
      max(when(col("role") === "tool", 1L).otherwise(0L)).as("tool_used"),
      max(when(col("error_number").isNotNull, col("turn_idx"))).as("last_err"),
      max(when(col("role") === "assistant", col("turn_idx"))).as("last_asst"))
      .withColumn("errored",
        when(col("last_err").isNotNull, 1L).otherwise(0L))
      .withColumn("recovered",
        when(col("last_err").isNotNull && col("last_asst").isNotNull &&
          col("last_asst") > col("last_err"), 1L).otherwise(0L))
    def permille(c: String) =
      floor(sum(col(c)) * lit(1000.0) / count(lit(1))).cast("long")
        .as(s"${c}_permille")
    perConv.agg(
      count(lit(1)).as("n_convs"),
      sum(col("engaged")).as("n_engaged"),
      sum(col("tool_used")).as("n_tool"),
      sum(col("errored")).as("n_errored"),
      sum(col("recovered")).as("n_recovered"),
      permille("engaged"), permille("tool_used"),
      permille("errored"), permille("recovered"))
  }

  /** Frequent action-trigram mining (q185): which ordered
    * `role:tool → role:tool → role:tool` patterns recur across the corpus.
    * Support = number of DISTINCT conversations containing the pattern at
    * least once (the standard sequential-pattern-mining definition — a
    * conversation that loops one pattern 50 times counts once). At fixed
    * k there is no Apriori candidate lattice and no self-join: one window
    * pass keyed on conv_id (the same exchange every per-conv op shares),
    * a distinct on (pattern, conv_id), one hash-agg. Scale-out is the
    * conversation count; the pattern space is bounded by (roles×tools)³,
    * so the post-distinct aggregate is tiny. */
  def frequentTrigrams(transcripts: DataFrame,
                       minSupport: Long = 5L): DataFrame = {
    val tok = concat_ws(":", col("role"),
      when(col("tool") === "", lit("-")).otherwise(col("tool")))
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    transcripts
      .withColumn("t0", tok)
      .withColumn("t1", lead(col("t0"), 1).over(w))
      .withColumn("t2", lead(col("t0"), 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("conv_id"),
        concat_ws(" > ", col("t0"), col("t1"), col("t2")).as("pattern"))
      .distinct()
      .groupBy("pattern").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
  }

  /** Shared-PREFIX mass — the serving-side prefix-cache estimator: at
    * each prefix depth d (the first d turns, template-normalized), how
    * many conversations share their prefix with at least one other, and
    * what fraction of conversations would hit a warm prefix cache
    * (hits = Σ over shared prefixes of n−1: the first arrival seeds, the
    * rest hit). High depth-2 mass means system-prompt + first-user-turn
    * templating dominates — exactly what prefix caching monetizes.
    *
    * Shape: first-d turns only (turn_idx is 0-based) flow through ONE
    * conv_id exchange into a per-conv template sequence; each fixed
    * depth then aggregates the narrow |convs|-row frame by its md5
    * prefix key. Conversations shorter than d skip depth d. */
  def sharedPrefixMass(transcripts: DataFrame, maxDepth: Int = 3): DataFrame = {
    val tt = md5(concat_ws(":", col("role"),
      regexp_replace(lower(col("text")), "[0-9]+", "0")).cast("binary"))
    val perConv = transcripts.filter(col("turn_idx") < maxDepth)
      .select(col("conv_id"), col("turn_idx"), tt.as("tt"))
      .groupBy("conv_id")
      .agg(array_sort(collect_list(struct(col("turn_idx"), col("tt"))))
        .getField("tt").as("tts"))
    (1 to maxDepth).map { d =>
      perConv.filter(size(col("tts")) >= d)
        .select(md5(array_join(slice(col("tts"), 1, d), "|").cast("binary"))
          .as("pfx"))
        .groupBy("pfx").agg(count(lit(1)).as("n"))
        .agg(sum("n").as("n_convs"),
          count(lit(1)).as("n_prefixes"),
          sum(when(col("n") >= 2, col("n")).otherwise(0L)).as("n_convs_shared"),
          sum(when(col("n") >= 2, col("n") - 1).otherwise(0L)).as("n_cache_hits"))
        .withColumn("depth", lit(d.toLong))
    }.reduce(_ unionByName _)
      .withColumn("hit_permille",
        expr("n_cache_hits * 1000 DIV greatest(n_convs, 1L)"))
      .select("depth", "n_convs", "n_prefixes", "n_convs_shared",
        "n_cache_hits", "hit_permille")
  }

  /** pass@k — the canonical sampled-evaluation metric, computed exactly:
    * tasks are keyed by the conversation's FIRST tool, a trial is one
    * conversation, success is the funnel criterion (no error, or an
    * assistant turn after the last error). pass@k = 1 − C(n−c, k)/C(n, k)
    * via the falling-factorial product — integer-exact in DECIMAL, no
    * floats (the binomial ratio telescopes to Π(n−c−i)/(n−i)).
    *
    * Trials per task are capped at `trialCap` by smallest md5(conv_id)
    * (the reservoir gate): the estimator is sampling-based by definition
    * (Chen et al., "Evaluating LLMs Trained on Code" estimate pass@k on
    * n ≤ 200 samples), and the cap is what keeps the falling factorials
    * inside DECIMAL(38) and the per-task window bounded at scale — gate
    * by hash threshold first on a 100 TB corpus, then rank the sliver.
    *
    * Shape: one conv hash-agg (the shared conv exchange), a per-task
    * rank window on the CONV-level frame, then a |tasks|-row report. */
  def passAtK(parsed: DataFrame, trialCap: Int = 200): DataFrame = {
    val conv = parsed.groupBy("conv_id").agg(
        min(when(col("tool") =!= "", struct(col("turn_idx"), col("tool"))))
          .as("ft"),
        max(when(col("error_number").isNotNull, col("turn_idx"))).as("last_err"),
        max(when(col("role") === "assistant", col("turn_idx"))).as("last_asst"))
      .filter(col("ft").isNotNull)
      .select(col("conv_id"), col("ft.tool").as("task"),
        (col("last_err").isNull ||
          (col("last_asst").isNotNull && col("last_asst") > col("last_err")))
          .as("success"))
    val w = Window.partitionBy("task")
      .orderBy(md5(col("conv_id").cast("binary")), col("conv_id"))
    conv.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= trialCap)
      .groupBy("task").agg(
        count(lit(1)).as("n"),
        sum(when(col("success"), 1L).otherwise(0L)).as("c"))
      .select(col("task"), col("n"), col("c"),
        expr("c * 1000000 DIV n").as("pass1_ppm"),
        expr("""CASE WHEN n >= 5 THEN
            1000000 - (CASE WHEN n - c >= 5
              THEN CAST(n - c AS DECIMAL(38,0)) * (n-c-1) * (n-c-2)
                   * (n-c-3) * (n-c-4)
              ELSE CAST(0 AS DECIMAL(38,0)) END) * 1000000
            DIV (CAST(n AS DECIMAL(38,0)) * (n-1) * (n-2) * (n-3) * (n-4))
          END""").as("pass5_ppm"))
  }

  /** Pareto cost attribution per tool — the "which tools produce 80% of
    * the byte volume" capacity report that decides where parse/storage
    * optimization effort goes. Per tool: turn count, byte mass, share,
    * cumulative share in descending-mass order, and the Pareto-head flag
    * (true while the mass BEFORE this tool is under 800‰, so the head
    * always includes the tool that crosses the 80% line and the set is
    * prefix-closed). Integer permille throughout.
    *
    * Shape: one corpus hash-agg to |tools| rows; the ranking window and
    * running sum run on that aggregate — no corpus sort. */
  def toolCostPareto(transcripts: DataFrame, headPermille: Long = 800L): DataFrame = {
    val per = transcripts.groupBy("tool").agg(
      count(lit(1)).as("n_turns"),
      sum(length(col("text")).cast("long")).as("bytes"))
    val ord = Window.orderBy(col("bytes").desc, col("tool"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum_bytes", sum(col("bytes")).over(cum))
      .withColumn("total", sum(col("bytes")).over(all))
      .select(col("tool"), col("n_turns"), col("bytes"), col("rank"),
        expr("bytes * 1000 DIV total").as("share_permille"),
        expr("cum_bytes * 1000 DIV total").as("cum_share_permille"),
        (expr("(cum_bytes - bytes) * 1000 DIV total") < headPermille)
          .as("pareto_head"))
  }

  /** Reword-retry detection — adjacent same-role turns whose DISTINCT
    * token sets overlap at Jaccard ≥ τ‰: the user (or tool) re-issuing a
    * near-identical turn after a failure. loopStats (q121) catches EXACT
    * digit-collapsed repeats; this catches the paraphrased retry those
    * template keys miss — the same exact-vs-near split as hash dedup vs
    * MinHash. Per conversation: turns, adjacent same-role pairs, retries
    * among them, retry permille, and the hottest same-role Jaccard.
    *
    * Shape: adjacent-pairs only (lag 1), so it rides the skew-safe
    * dispatcher: plain ONE conv_id window exchange until the sampled key
    * profile ([[SkewWindows.chooseChunkedSampled]], calibrated 1<<23
    * threshold — see toolTransitionEdgesAuto) finds a conversation hot
    * enough that its single-task sort gates the stage, chunk+stitch
    * ([[SkewWindows.adjacentPairs]]) beyond. This path carries the
    * distinct token-set ARRAY through the window (KBs per row, not a
    * 16-byte hash), so a hot conversation crosses the multi-GB
    * single-sort regime orders of magnitude earlier than the narrow-row
    * windows — the dispatch matters here most. The (role, tset, n_set)
    * triple travels as ONE struct value (tokenized exactly once per
    * row — lagging raw text and re-tokenizing post-window was measured
    * 1.6× SLOWER); |A∪B| is |A|+|B|−|A∩B| so only the intersection
    * array materializes; the rollup is a conv-keyed hash-agg. Both
    * branches are row-identical (SkewWindowSpec / q182 contract). */
  def rewordRetries(transcripts: DataFrame,
                    jacPermilleMin: Long = 600L,
                    hotKeyRows: Long = 1L << 23): DataFrame = {
    val tset = array_distinct(graft.text.TextAnalysis.tokens(col("text")))
    val rows = transcripts
      .select(col("conv_id"), col("turn_idx"), col("role"), tset.as("tset"))
      .withColumn("n_set", size(col("tset")).cast("long"))
      .select(col("conv_id"), col("turn_idx"),
        struct(col("role"), col("tset"), col("n_set")).as("v"))
    val adj =
      if (SkewWindows.chooseChunkedSampled(transcripts, "conv_id",
        "turn_idx", hotKeyRows))
        SkewWindows.adjacentPairs(rows, "conv_id", "turn_idx", "v")
      else SkewWindows.adjacentPairsPlain(rows, "conv_id", "turn_idx", "v")
    val paired = adj.select(
      col("k").as("conv_id"), col("o").as("turn_idx"),
      col("v.role").as("role"), col("v.tset").as("tset"),
      col("v.n_set").as("n_set"),
      col("prev.role").as("prev_role"), col("prev.tset").as("prev_tset"),
      col("prev.n_set").as("prev_n"))
    val sameRole = col("prev_role").isNotNull && col("role") === col("prev_role")
    paired
      // fused |A∩B| (value-identical to size(array_intersect), FastTokSpec)
      // — skips materializing the intersection array on every turn pair
      .withColumn("_i",
        graft.text.ArrIntersectSize.of(col("tset"), col("prev_tset")))
      .withColumn("_u", col("n_set") + col("prev_n") - col("_i"))
      .withColumn("jac", when(sameRole,
        expr("CASE WHEN _u > 0 THEN _i * 1000 DIV _u ELSE 0 END")))
      .groupBy("conv_id").agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("jac").isNotNull, 1L).otherwise(0L)).as("n_same_role_adj"),
        sum(when(col("jac") >= jacPermilleMin, 1L).otherwise(0L))
          .as("n_retries"),
        max(coalesce(col("jac"), lit(-1L))).as("_mj"))
      .select(col("conv_id"), col("n_turns"), col("n_same_role_adj"),
        col("n_retries"),
        expr("n_retries * 1000 DIV greatest(n_same_role_adj, 1L)")
          .as("retry_permille"),
        when(col("_mj") >= 0L, col("_mj")).as("max_jac_permille"))
  }

  /** Bursting terms per day — "what spiked today": for each (day, token),
    * the integer-exact lift of the token's share that day against its
    * corpus-wide share (lift 1000 = exactly its baseline rate), top-k
    * lifts per day reported. The temporal twin of collocation lift
    * (q243, pair-space) and vocab drift (q223, source-space): an
    * incident/trend triage view — a term whose lift jumps 5× names the
    * event storm directly. A floor on the day count keeps one-off rare
    * tokens from posting infinite-looking lifts.
    *
    * Scale shape: one (day, tok) hash-agg off the scan (the only
    * corpus-sized pass, map-side combined), marginals and the lift are
    * grid math on that aggregate; day totals broadcast back; top-k is a
    * day-partitioned window on the scored grid. Lift arithmetic runs in
    * DECIMAL(38,0) — n·n_all·1000 overflows int64 once the corpus passes
    * ~1e13 tokens (n_all alone) times a hot day-token count, the same
    * widening amsF2/joinOrderAdvisor apply — then narrows back to BIGINT
    * (the quotient is a small lift ratio by construction). */
  def termBursts(transcripts: DataFrame, topK: Int = 5,
                 minN: Long = 5L): DataFrame = {
    val dayTok = transcripts.select(
        (unix_timestamp(col("ts")) / 86400L).cast("long").as("day_num"),
        explode(graft.text.FastTok.rawTokens(col("text"))).as("tok"))
      .groupBy("day_num", "tok").agg(count(lit(1)).as("n"))
    val tokTot = dayTok.groupBy("tok").agg(sum("n").as("n_tok"))
    val dayTot = dayTok.groupBy("day_num").agg(sum("n").as("n_day"))
    val allTot = dayTot.agg(sum("n_day").as("n_all"))
    val scored = dayTok
      .join(tokTot, "tok")
      .join(broadcast(dayTot), "day_num")
      .crossJoin(broadcast(allTot))
      .filter(col("n") >= minN)
      .withColumn("lift_x1000",
        expr("CAST(CAST(n AS DECIMAL(38,0)) * n_all * 1000" +
          " DIV (CAST(n_tok AS DECIMAL(38,0)) * n_day) AS BIGINT)"))
    val byDay = Window.partitionBy("day_num")
      .orderBy(col("lift_x1000").desc, col("tok"))
    scored.withColumn("rk", row_number().over(byDay).cast("long"))
      .filter(col("rk") <= topK)
      .select("day_num", "rk", "tok", "n", "lift_x1000")
  }

  /** CONTEXT-WINDOW truncation policy export — the serving-side "first
    * h + last t turns" middle-drop policy (what long-context chat
    * serving actually does), materialized with its cost accounting: per
    * conversation the turns and character mass kept vs dropped, so the
    * policy's information loss is a measured number before anyone ships
    * it. Conversations inside the budget pass through whole.
    *
    * Shape: one conv hash-agg (max turn + totals) joined back on
    * conv_id — the per-turn keep test is then a pure expression
    * (turn < h ∨ turn > max − t), no window over the corpus; the
    * second conditional aggregation reuses the same conv exchange. */
  def contextTruncate(transcripts: DataFrame, head: Int = 2,
                      tail: Int = 6): DataFrame = {
    val tops = transcripts.groupBy("conv_id")
      .agg(max("turn_idx").cast("long").as("max_t"))
    transcripts.join(tops, "conv_id")
      .withColumn("keep",
        col("max_t") < (head + tail) ||
          col("turn_idx") < head || col("turn_idx") > col("max_t") - tail)
      .groupBy("conv_id").agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(length(col("text")).cast("long")).as("chars_total"),
        sum(when(col("keep"), length(col("text")).cast("long"))
          .otherwise(0L)).as("chars_kept"))
      .withColumn("n_dropped", col("n_turns") - col("n_kept"))
      .withColumn("kept_permille",
        expr("chars_kept * 1000 DIV chars_total"))
  }

  /** Discrete SURVIVAL/HAZARD curve over conversation length — when do
    * conversations die? For each turn index t where at least one
    * conversation ENDS: how many conversations reached t, how many ended
    * there, and the discrete hazard ‰ (the Kaplan–Meier ingredients,
    * integer-exact — the cumulative product stays with the consumer so
    * nothing here needs floats). The context-window/session-budget
    * planning read: a hazard spike at t=20 says "engineer for 20-turn
    * sessions", which no mean/percentile length summary shows.
    *
    * Shape: one conv hash-agg to lengths, one |distinct-lengths| grid
    * histogram, a suffix-sum window ON that grid (n_reaching = convs
    * with len > t). Sparse by design: only turns where a conversation
    * ends produce rows. */
  def survivalHazard(transcripts: DataFrame): DataFrame = {
    val lens = transcripts.groupBy("conv_id")
      .agg((max("turn_idx") + 1).cast("long").as("len"))
    val hist = lens.groupBy("len").agg(count(lit(1)).as("n_ending"))
    val w = Window.orderBy(col("len").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("n_reaching", sum("n_ending").over(w))
      .select((col("len") - 1).as("turn_t"), col("n_reaching"),
        col("n_ending"))
      .withColumn("hazard_permille", expr("n_ending * 1000 DIV n_reaching"))
  }
}
