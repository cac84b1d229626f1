package graft

/** Executed-plan regression audit for the newest operator families: no
  * cartesian/nested-loop joins anywhere, and exchange counts pinned so a
  * future refactor can't silently re-introduce plan-copy recomputation
  * (the q140 band union originally re-ran the conv_id aggregation per
  * band side — 10 exchanges; the cached-shx + posexplode shape is 5).
  * An operator that materializes its result in a cache scope is audited
  * on the plan that computed it ([[SparkSpec.computedPlan]]). */
class ExplainAuditSpec extends SparkSpec {
  test("plan audit: q134/q138/q140 exchange counts and join kinds") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    def audit(q: String) = {
      val p = computedPlan(SparkEntry.queries(q)(s, d))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q has a product join")
      "Exchange hashpartitioning".r.findAllIn(p).size
    }
    // 5 core exchanges + the hot-bucket guard's (band_idx, band_sig)
    // window shuffle, which prints once per cached-side reference
    assert(audit("q140_conv_neardup") <= 7)
    assert(audit("q134_lm_score") <= 3)   // model agg, prefix agg, doc agg
    assert(audit("q138_join_forecast") <= 2)  // the two histograms
  }

  test("plan audit: bloom prefilter and z-order layout stay bounded") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    // q149's only nested-loop join is the 1-row broadcast filter map —
    // constant-size at any corpus scale, so it's the intended shape; the
    // batch side must never hit a CartesianProduct or a hash-shuffled join
    val p149 = computedPlan(SparkEntry.queries("q149_bloom_prefilter")(s, d))
    assert(!p149.contains("CartesianProduct"), "q149 has a cartesian")
    // 3 real exchanges (index distinct, word table, per-doc agg); the
    // cached index's distinct prints once per cached-side reference
    // (word-table build + exact-arm broadcast), same as q140's guard
    assert("Exchange hashpartitioning".r.findAllIn(p149).size <= 4,
      "q149: index distinct + word table + per-doc agg only")
    assert(p149.contains("InMemoryTableScan"),
      "q149: the index set must be cached, not recomputed per consumer")
    // q150 is map-only up to one ≤64-row aggregate
    val p150 = SparkEntry.queries("q150_zorder_layout")(s, d)
      .queryExecution.executedPlan.toString
    assert(!p150.contains("CartesianProduct") &&
      !p150.contains("BroadcastNestedLoopJoin"), "q150 must be join-free")
    assert("Exchange hashpartitioning".r.findAllIn(p150).size <= 1,
      "q150: one (layout, file_id) aggregate exchange")
  }

  test("plan audit: upsert, salted join, BPE encode, rollup stay bounded") {
    val s = TestSpark.spark
    val d = "/root/testdata/sf0.001"
    // hide the synthesis (whose row_number window would otherwise appear
    // in every plan) behind the cache boundary, exactly as Verify does,
    // then audit only the text ABOVE the cached relation (whose printout
    // embeds its own child plan, synthesis window included)
    graft.sources.Transcripts.materialize(s, d)
    def plan(q: String) = {
      val full = SparkEntry.queries(q)(s, d)
        .queryExecution.executedPlan.toString
      val cut = full.indexOf("InMemory")
      val p = if (cut >= 0) full.substring(0, cut) else full
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$q has a product join")
      p
    }
    // upsert: union + ONE hash-agg — a join- or window-based MERGE here
    // would be a regression
    val p151 = plan("q151_upsert_merge")
    assert(!p151.contains("SortMergeJoin") && !p151.contains("Window"),
      "q151 must merge via aggregation, not join/window")
    assert(p151.contains("max_by"), "q151 merges via max_by")
    assert("Exchange hashpartitioning".r.findAllIn(p151).size <= 1)
    // salted join: the hot-flag joins must ride broadcasts; only the
    // (key, salt) equi-join and the auto histogram may shuffle
    val p152 = plan("q152_salted_join")
    assert(p152.contains("BroadcastHashJoin"), "hot flags must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p152).size <= 4)
    // BPE encode: vocabulary distinct + doc_id agg; the encoded vocab
    // must come back as a broadcast, never a shuffled join
    val p153 = plan("q153_bpe_encode")
    assert(p153.contains("BroadcastHashJoin"), "vocab must broadcast")
    assert("Exchange hashpartitioning".r.findAllIn(p153).size <= 2)
    // rollup: one Expand into one exchange — NOT one scan per subtotal level
    val p154 = plan("q154_corpus_rollup")
    assert(p154.contains("Expand"), "rollup must plan as Expand")
    assert("Exchange hashpartitioning".r.findAllIn(p154).size <= 1)
  }
}
