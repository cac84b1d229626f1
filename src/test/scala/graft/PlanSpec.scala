package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Plan-shape regression tests: the properties the engine claims at scale
  * (SURVEY.md §4) asserted on the actual physical plans, so a future
  * change that introduces a shuffle or breaks pushdown fails CI. */
class PlanSpec extends SparkSpec {

  private val staged = "/tmp/graft_plan_spec"

  private lazy val stagedInput = {
    if (!Files.exists(Paths.get(s"$staged/_SUCCESS"))) {
      Graft.rmTree(staged)
      Transcripts.load(spark, tiny).write.parquet(staged)
    }
    spark.read.parquet(staged)
  }

  private def executedPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    // force final AQE plan string via a fresh non-AQE execution
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val s = df.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  test("engine pipeline over a materialized transcript table is shuffle-free") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val routed = Pipeline.transform(stagedInput, spark)
    val exec = routed.queryExecution.executedPlan
    val plan = exec.toString
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"pipeline must be exchange-free end to end:\n${plan.take(2000)}")
    // the constant lookups are expressions: no shuffle, no broadcast, no join
    val offending = exec.collectWithSubqueries {
      case p: org.apache.spark.sql.execution.exchange.Exchange => p.nodeName
      case p: org.apache.spark.sql.execution.joins.BaseJoinExec => p.nodeName
    }
    assert(offending.isEmpty, s"routed plan has $offending:\n${plan.take(2000)}")
  }

  test("filters push down to the parquet scan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = stagedInput.filter(col("conv_id") === "conv_hot")
      .select("conv_id", "turn_idx")
    val plan = q.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(conv_id,conv_hot)"),
      s"expected conv_id pushdown:\n${plan.take(1500)}")
  }

  test("column pruning reaches the scan (ReadSchema minimal)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = stagedInput.select("conv_id", "turn_idx")
    val plan = q.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val rs = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("conv_id") && rs.contains("turn_idx") && !rs.contains("text"),
      s"scan must read only projected columns: $rs")
  }

  test("incremental cursor predicate is pushed to the scan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the scan's PushedFilters metadata string is capped at 100 chars
    // (spark.sql.maxMetadataStringLength); in a full-suite run the
    // accumulated 6-digit expression ids push the literal past the cap,
    // so widen it for the assertion (order-independent test)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val q = operators.Incremental.catchUp(stagedInput, "events_0000", 500L)
    val plan = q.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.maxMetadataStringLength", "100")
    val scanLine = plan.linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scanLine.contains("src_offset") && scanLine.contains("500"),
      s"cursor must reach the scan filters: ${scanLine.take(400)}")
  }

  test("pre-parse raw filter equals post-parse filter stack (F1-F7)") {
    val t = Transcripts.load(spark, tiny)
    val pre = Pipeline.parse(operators.Filters.standardOnRaw(t))
      .select("conv_id", "turn_idx", "name")
    val post = operators.Filters.standard(Pipeline.parse(t))
      .select("conv_id", "turn_idx", "name")
    assert(pre.except(post).isEmpty && post.except(pre).isEmpty,
      "filter placement must not change the surviving row set")
  }

  test("routed plan evaluates the full parse expression exactly once") {
    val routed = Pipeline.transform(stagedInput, spark)
      .select("conv_id", "turn_idx", "name", "sink_index", "doc_json")
    val plan = routed.queryExecution.sparkPlan.toString
    val parses = "parse_turn".r.findAllIn(plan).length
    assert(parses == 1,
      s"expected ONE parse_turn in the plan (pre-parse filtering), got $parses")
    assert("fused_enrich".r.findAllIn(plan).length == 1, "one fused_enrich")
  }

  test("perSinkCounts runs the upstream pipeline once (ReuseExchange)") {
    val routed = Pipeline.transform(stagedInput, spark)
    val counts = operators.Routing.perSinkCounts(routed)
    counts.collect() // materialize so the final AQE plan exists
    val finalPlan = counts.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(finalPlan).length
    val reused = "ReusedExchange".r.findAllIn(finalPlan).length
    assert(scans == 1, s"expected ONE scan in the final plan, got $scans")
    assert(reused >= 2, s"expected >=2 ReusedExchange, got $reused")
  }

  test("ANN near-dup and bucketed top-k plans are equi-joins (no cartesian)") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plans = Seq(
      "nearDupPairs" -> computedPlan(ann.Similarity.nearDupPairs(vecs)),
      "nearDupPairsCollapsed" -> computedPlan(ann.Similarity.nearDupPairsCollapsed(vecs)),
      "bucketedTopK" -> computedPlan(ann.Similarity.bucketedTopK(vecs)))
    plans.foreach { case (nm, plan) =>
      assert(!plan.contains("CartesianProduct"), s"$nm has a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$nm nested-loop joins")
    }
  }

  test("blockingRecall / lshSweep truth rides the PPJoin — no cartesian " +
    "anywhere in the eval harness (round-5: the sample crossJoin is gone)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    Seq("blockingRecall" -> computedPlan(dedup.Dedup.blockingRecall(docs)),
        "lshSweep" -> computedPlan(dedup.Dedup.lshSweep(docs))).foreach { case (nm, plan) =>
      assert(!plan.contains("CartesianProduct"), s"$nm has a cartesian product")
    }
  }

  test("agent-jobs history joins the jobs dim via broadcast (J6)") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = functions.AgentJobs.enrich(functions.AgentJobs.withJobNames(
      functions.AgentJobs.fromEvents(ev), spark))
    assert(out.queryExecution.sparkPlan.toString.contains("BroadcastHashJoin"),
      "q24 path must contain a real broadcast equi-join")
  }

  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    // exchanges are inserted by EnsureRequirements — only executedPlan
    // (not sparkPlan) shows them; AQE off so the string is the real plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val s = df.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    s
  }

  test("per-row corpus ops are exchange-free map passes") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Seq(
      "repetition" -> text.Repetition.signals(docs),
      "redact" -> text.Redact.redactionStats(docs),
      "stratified" -> operators.Sampling.stratified(docs, Map("en" -> 500)),
      "quantize" -> ann.Quantize.quantize(vecs),
      "rand_proj" -> ann.RandomProjection.project(vecs)
    ).foreach { case (nm, df) =>
      val plan = finalPlanOf(df)
      assert(!plan.contains("Exchange"), s"$nm must not shuffle:\n${plan.take(1500)}")
    }
  }

  test("boilerplate hot-aggregate and join probe share one shuffle (ReuseExchange)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = text.Boilerplate.stats(docs)
    df.write.format("noop").mode("overwrite").save()  // settle AQE
    val plan = finalPlanOf(df)
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage") ||
      "Exchange hashpartitioning\\(sh".r.findAllIn(plan).length <= 1,
      s"the shingle exchange must be shared:\n${plan.take(2000)}")
  }

  test("dialogue integrity window and aggregate share the conv_id exchange") {
    import TestSpark.spark.implicits._
    val t = Seq(("c1", 0, "user"), ("c1", 1, "assistant"))
      .toDF("conv_id", "turn_idx", "role")
    val plan = finalPlanOf(operators.Conversations.integrity(t))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 1,
      s"one conv_id exchange expected:\n${plan.take(1500)}")
  }

  test("packing shuffles once, on the (lang, shard) window keys") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = finalPlanOf(text.Packing.pack(docs))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"one window exchange expected:\n${plan.take(1500)}")
    assert(plan.contains("shard"), "exchange must key on the shard column")
  }

  test("curation near-dup stage stays an equi-join (no cartesian)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = computedPlan(dedup.Curation.curate(docs))
    assert(!plan.contains("CartesianProduct"), "curation has a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "curation nested-loop joins")
  }

  test("lineage dedup-on-read collapses replayed batches (effective-once)") {
    import TestSpark.spark.implicits._
    val lineage = Seq(
      ("f1", 0L, 9L, 10L, 0L), ("f1", 0L, 9L, 10L, 0L), // replayed batch 0
      ("f2", 0L, 4L, 5L, 1L)
    ).toDF("src_file", "min_offset", "max_offset", "n_events", "batch_id")
    val total = operators.Aggregates.lineageDeduped(lineage)
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == 15L)
  }

  test("round-8 ops: bounded sides broadcast, no sort-merge in the probe " +
    "paths, postings reuses the tok exchange") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // DSIR: the <=1024-row rate table and the 1-row threshold broadcast;
    // the only sort-merge allowed is the final doc_id left join
    val dsir = computedPlan(text.Selection.dsirWeights(docs))
    assert(dsir.contains("BroadcastHashJoin"), "dsir rate probe must broadcast")
    assert(!dsir.contains("CartesianProduct"), "dsir cartesian")
    // delete propagation / contamination spans: pure broadcast probes —
    // a sort-merge join would mean the corpus shuffled for matching
    Seq(
      "deletePropagation" -> operators.Governance.deletePropagation(docs),
      "decontaminateSpans" -> text.Decontaminate.spans(docs)
    ).foreach { case (nm, df) =>
      val plan = finalPlanOf(df)
      assert(plan.contains("BroadcastHashJoin"), s"$nm must broadcast-probe")
      assert(!plan.contains("SortMergeJoin"), s"$nm shuffles the corpus")
    }
    // postings: the per-term window and final agg share the tok exchange
    // on top of the (tok, doc_id) tf agg — exactly two exchanges
    val postings = finalPlanOf(text.Bm25.postings(docs))
    val n = "Exchange hashpartitioning".r.findAllIn(postings).size
    assert(n == 2, s"postings expected 2 exchanges, saw $n")
  }

  test("graph ops: blocked edit dedup and wedge joins are equi-joins only") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // edit dedup: the |band diff|<=1 predicate must ride the equi-join
    // via band replication, never a nested-loop factor
    val edit = dedup.EditDedup.editPairs(docs).queryExecution.sparkPlan.toString
    assert(!edit.contains("CartesianProduct"), "edit dedup cartesian")
    assert(!edit.contains("BroadcastNestedLoopJoin"), "edit dedup nested loop")
    // triangle count + link prediction: every join keyed on vertex ids
    val parsed = Pipeline.parsed(spark, tiny)
    Seq(
      "triangles" -> computedPlan(graph.Graphs.loginTriangles(parsed)),
      "linkPredict" -> computedPlan(graph.Graphs.linkPredict(
        graph.Graphs.loginCooccurrenceEdges(parsed)))
    ).foreach { case (nm, plan) =>
      assert(!plan.contains("CartesianProduct"), s"$nm cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$nm nested loop")
    }
    // exact set-similarity join: candidate generation and verify are
    // token-/id-keyed equi-joins — the prefix filter must never fall
    // back to an all-pairs shape
    val ssPlan = dedup.SetSimJoin.similarPairs(docs)
      .queryExecution.sparkPlan.toString
    assert(!ssPlan.contains("CartesianProduct"), "setsim cartesian")
    assert(!ssPlan.contains("BroadcastNestedLoopJoin"), "setsim nested loop")
  }

  test("round-23 ops: narrow-key shuffles only, frontier broadcasts, " +
    "rolling merge stays aggregate-sized") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // leak-safe split: ONE corpus exchange (the ckey window) — the text
    // column must never be part of the shuffled frame
    val split = finalPlanOf(operators.Sampling.leakSafeSplit(docs))
    val nSplit = "Exchange hashpartitioning".r.findAllIn(split).size
    assert(nSplit == 1, s"leakSafeSplit expected 1 exchange, saw $nSplit")
    assert(!"Exchange hashpartitioning\\([^)]*text".r
      .findFirstIn(split).isDefined, "leakSafeSplit shuffles the text")
    // Pareto frontier: the <=1001-row staircase broadcasts back; the only
    // corpus exchange is the quality-grid aggregation
    val pareto = finalPlanOf(text.Selection.paretoFrontier(docs))
    assert(pareto.contains("BroadcastHashJoin"), "frontier must broadcast")
    assert(!pareto.contains("SortMergeJoin"), "frontier shuffled the corpus")
    // bootstrap CI: the 64x fanout partial-aggregates map-side into the
    // 64-row frame — exactly one corpus exchange (groupBy rep)
    val boot = finalPlanOf(operators.Sampling.bootstrapCI(docs))
    val nBoot = "Exchange hashpartitioning".r.findAllIn(boot).size
    assert(nBoot == 1, s"bootstrapCI expected 1 exchange, saw $nBoot")
    // winnowing census: fp-keyed equi-joins only
    val winnow = finalPlanOf(dedup.Dedup.winnowStats(docs))
    assert(!winnow.contains("CartesianProduct"), "winnow cartesian")
    assert(!winnow.contains("BroadcastNestedLoopJoin"), "winnow nested loop")
    // rolling distinct: the only non-equi join is the exact-recount
    // diagnostic, and it must build the tiny day list, never the pairs
    val roll = finalPlanOf(operators.Sketches.hllRollingDistinct(
      Transcripts.load(spark, tiny)))
    assert(!roll.contains("CartesianProduct"), "rolling distinct cartesian")
  }

  test("round-3 heavy queries: map-only template rebuild, codegen winnow " +
    "kernel, equi-only CC/max-coverage rounds") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // log templates: after the (separate) vocab-census job, the rebuild
    // plan is scan -> fused rewrite -> filter -> census agg: exactly ONE
    // exchange (the template census), no collect_list reassembly, no sort
    val lt = finalPlanOf(operators.DqRules.logTemplates(stagedInput))
    val nLt = "Exchange hashpartitioning".r.findAllIn(lt).size
    assert(nLt == 1, s"logTemplates rebuild expected 1 exchange, saw $nLt:\n${lt.take(1500)}")
    assert(!lt.contains("collect_list") && !lt.toLowerCase.contains("sortexec"),
      "logTemplates rebuild must not reassemble turns via collect_list/sort")
    // the rewrite kernel must be evaluated EXACTLY once per row — a
    // template-null filter (pre- or post-agg) gets pushed below the
    // projection and doubles the evaluation
    val nKernel = "log_template\\(".r.findAllIn(lt).size
    assert(nKernel == 1, s"expected exactly 1 log_template eval, saw $nKernel")
    // winnow: the selection pass is exchange-free and fused (no
    // interpreted lambda HOFs left in the per-doc stage)
    val sel = finalPlanOf(docs.select(col("doc_id"),
      dedup.Winnow.stats(col("text"), 4).as("_w")))
    assert(!sel.contains("Exchange"), s"winnow selection must not shuffle:\n${sel.take(1000)}")
    assert(sel.contains("winnow_stats"), "fused winnow kernel missing")
    assert(!sel.contains("lambdafunction"), "interpreted HOFs in winnow selection")
    // CC star round + max-coverage round: equi-joins only, no cartesian
    val cc = finalPlanOf(graph.Graphs.ccRound(
      docs.select(col("doc_id").as("a"), (col("doc_id") + 1L).as("b"))))
    assert(!cc.contains("CartesianProduct") &&
      !cc.contains("BroadcastNestedLoopJoin"), "CC round non-equi join")
    val ex = docs.select(col("doc_id"), explode(array_distinct(
      dedup.Dedup.shingleHashes(col("text")))).as("tok"))
    val mc = finalPlanOf(text.Selection.maxCoverageRound(ex, Seq(1L, 2L)))
    assert(!mc.contains("CartesianProduct") &&
      !mc.contains("BroadcastNestedLoopJoin"), "max-coverage non-equi join")
    assert(mc.contains("BroadcastHashJoin"), "covered set must broadcast")
  }
}
