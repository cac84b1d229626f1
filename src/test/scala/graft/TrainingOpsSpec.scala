package graft

import org.apache.spark.sql.functions._
import graft.operators.Conversations
import graft.text.{Bm25, Boilerplate}

/** Chat rendering / loss masks / role merging / BM25 retrieval /
  * boilerplate scrub — the transcript→training-example operators. */
class TrainingOpsSpec extends SparkSpec {
  import TestSpark.spark.implicits._

  private val turns = Seq(
    ("c1", 0, "user", "hi"),
    ("c1", 1, "assistant", "hello!"),
    ("c1", 2, "tool", "run(x)"),
    ("c1", 3, "tool", "ok"),
    ("c1", 4, "assistant", "done"),
    ("c2", 0, "system", "you are kind"),
    ("c2", 1, "user", "bye"))

  private def tdf =
    // reversed input order: the operators must impose turn order themselves
    spark.createDataFrame(turns.reverse).toDF("conv_id", "turn_idx", "role", "text")

  test("renderChat: stable turn order, role tags, newline joins") {
    val out = Conversations.renderChat(tdf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2), r.getLong(3))).toMap
    val c1 = "<|user|>hi\n<|assistant|>hello!\n<|tool|>run(x)\n<|tool|>ok\n<|assistant|>done"
    assert(out("c1") == ((5L, c1, c1.length.toLong)))
    assert(out("c2") == ((2L, "<|system|>you are kind\n<|user|>bye", 34L)))
  }

  test("renderChat: maxTurns truncates before the shuffle") {
    val out = Conversations.renderChat(tdf, maxTurns = 2).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out("c1") == "<|user|>hi\n<|assistant|>hello!")
  }

  test("renderChat: a duplicated turn_idx renders in one pinned order") {
    // turn 1 appears twice with different roles: W1 (turn_idx unique per
    // conversation) does not hold, and the tie falls to the rendered
    // segment, so "<|assistant|>" sorts before "<|user|>"
    val dup = Seq(
      ("d1", 0, "user", "q"),
      ("d1", 1, "user", "again"),
      ("d1", 1, "assistant", "answer"),
      ("d1", 2, "user", "thanks"))
    val want = "<|user|>q\n<|assistant|>answer\n<|user|>again\n<|user|>thanks"
    for (rows <- Seq(dup, dup.reverse)) {
      val out = Conversations.renderChat(
        spark.createDataFrame(rows).toDF("conv_id", "turn_idx", "role", "text"))
        .collect()
      assert(out.length == 1)
      assert(out(0).getLong(1) == 4L && out(0).getString(2) == want)
    }
  }

  test("lossMaskSpans: every span extracts its own segment from the render") {
    val rendered = Conversations.renderChat(tdf).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    val spans = Conversations.lossMaskSpans(tdf).collect()
    assert(spans.length == turns.length)
    spans.foreach { r =>
      val (conv, idx, role) = (r.getString(0), r.getInt(1), r.getString(2))
      val (a, b) = (r.getLong(3).toInt, r.getLong(4).toInt)
      val seg = rendered(conv).substring(a, b)
      val txt = turns.find(t => t._1 == conv && t._2 == idx).get._4
      assert(seg == s"<|$role|>$txt", s"span mismatch at $conv/$idx")
      assert(r.getBoolean(5) == (role == "assistant"))
    }
  }

  test("mergeConsecutiveRoles: islands merge with \\n, dense re-index") {
    val out = Conversations.mergeConsecutiveRoles(tdf)
      .filter($"conv_id" === "c1").orderBy("merged_idx").collect()
      .map(r => (r.getLong(1), r.getInt(2), r.getString(3), r.getLong(4), r.getString(5)))
    assert(out.toSeq == Seq(
      (0L, 0, "user", 1L, "hi"),
      (1L, 1, "assistant", 1L, "hello!"),
      (2L, 2, "tool", 2L, "run(x)\nok"),
      (3L, 4, "assistant", 1L, "done")))
  }

  test("bm25: lexical neighbors rank by overlap, self excluded, deterministic") {
    val docs = Seq(
      (0L, "apple banana cherry date"),
      (1L, "apple banana cherry grape"),
      (2L, "apple kiwi kiwi kiwi"),
      (3L, "zebra yak xylophone walrus"))
      .toDF("doc_id", "text")
    val out = Bm25.topK(docs, k = 3, queryMod = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // (q_id, rank, doc_id)
    // doc 0 is the only query (0 % 4 == 0); 3 shares nothing → absent
    assert(out.forall(_._1 == 0L))
    assert(!out.exists(_._3 == 0L) && !out.exists(_._3 == 3L))
    assert(out.find(_._2 == 1L).get._3 == 1L) // 3 shared terms beats 1
    assert(out.find(_._2 == 2L).get._3 == 2L)
    val again = Bm25.topK(docs, k = 3, queryMod = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == again.toSeq) // integer-exact → bit-stable
  }

  test("bm25: rarer shared term outranks common one at equal tf") {
    // "rare" appears in 2 docs, "common" in all 5 → idf(rare) > idf(common)
    val docs = Seq(
      (0L, "rare common aaa bbb"),
      (1L, "rare common ccc ddd"),
      (2L, "common eee fff ggg"),
      (3L, "common hhh iii jjj"),
      (4L, "common kkk lll mmm"))
      .toDF("doc_id", "text")
    val out = Bm25.topK(docs, k = 4, queryMod = 5).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap // rank -> doc_id
    assert(out(1L) == 1L) // shares rare+common, wins
  }

  test("rerankTopK: classifier order overrides BM25 order on the same " +
    "candidate set") {
    val docs = Seq(
      (0L, "apple banana cherry date"),
      (1L, "apple banana cherry grape"),
      (2L, "apple kiwi kiwi kiwi"),
      (3L, "zebra yak xylophone walrus"))
      .toDF("doc_id", "text")
    val topk = Bm25.topK(docs, k = 3, queryMod = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Bm25.rerankTopK(docs, k = 3, queryMod = 4).collect()
    // same (query, candidate) set — reranking never changes recall
    assert(rr.map(r => (r.getLong(0), r.getLong(1))).toSet == topk)
    // rerank is dense 1..n per query and ordered by logit desc
    val byQ = rr.groupBy(_.getLong(0))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(5))
      assert(sorted.map(_.getLong(5)).toSeq == (1L to rows.length).toSeq)
      val logits = sorted.map(_.getLong(4)).toSeq
      assert(logits == logits.sorted.reverse, "rerank must follow logit desc")
    }
  }

  test("boilerplate scrub: hot 3-token span removed, unique text kept") {
    val boiler = "all rights reserved"
    val docs = Seq(
      (0L, s"alpha beta $boiler"),
      (1L, s"gamma delta $boiler"),
      (2L, s"$boiler epsilon zeta"),
      (3L, "unique text only here"))
      .toDF("doc_id", "text")
    val out = Boilerplate.scrub(docs, minDocs = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(0L) == ((5L, 3L, "alpha beta")))
    assert(out(1L) == ((5L, 3L, "gamma delta")))
    assert(out(2L) == ((5L, 3L, "epsilon zeta")))
    assert(out(3L) == ((4L, 0L, "unique text only here")))
  }

  test("turnTemplates: digit runs collapse to one template across conversations") {
    val rows = Seq(
      ("a", 0, "x", "Error: 18456, Severity: 14"),
      ("b", 0, "x", "Error: 17, Severity: 9"),
      ("c", 0, "x", "error: 99999, severity: 0"),
      ("a", 1, "x", "Error: 18456, Severity: 14"), // same conv again
      ("d", 0, "x", "totally unique line"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = Conversations.turnTemplates(rows, minTurns = 4, minConvs = 3).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[String]("tmpl") == "error: 0, severity: 0")
    assert(r.getAs[Long]("n_turns") == 4L && r.getAs[Long]("n_convs") == 3L)
    assert(r.getAs[String]("first_conv") == "a" && r.getAs[Int]("first_turn") == 0)
  }

  test("sftExamples: gates drop bad conversations, PII scrubbed, density computed") {
    val rows = Seq(
      // keeper: opens with user, not canned, carries PII, merged assistants
      ("ok", 0, "user", "hi a@b.com"),
      ("ok", 1, "assistant", "sure 12345678"),
      ("ok", 2, "assistant", "done"),
      // dropped: opens with a tool turn
      ("toolstart", 0, "tool", "run(x)"),
      ("toolstart", 1, "assistant", "fine"),
      // dropped: 100% canned across 3 conversations
      ("sp1", 0, "user", "welcome!"),
      ("sp2", 0, "user", "welcome!"),
      ("sp3", 0, "user", "welcome!"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = operators.TrainingExport.sftExamples(rows).collect()
    assert(out.map(_.getString(0)).toSet == Set("ok"))
    val r = out(0)
    val rendered = "<|user|>hi <EMAIL>\n<|assistant|>sure <NUM>\ndone"
    assert(r.getAs[String]("rendered") == rendered)
    assert(r.getAs[Long]("n_turns") == 2L)
    assert(r.getAs[Long]("n_chars") == rendered.length.toLong)
    assert(r.getAs[Long]("train_chars") ==
      ("assistant".length + "sure <NUM>\ndone".length + 4).toLong)
  }

  test("packedExamples: per-shard running offsets, spill-across-boundary semantics") {
    val examples = (0 until 40).map(i =>
      (f"conv_$i%03d", 3L, f"conv_$i%03d".length.toLong + 700L + i * 13L, 300L))
      .toDF("conv_id", "n_turns", "n_chars", "train_chars")
    val budget = 512
    val out = operators.TrainingExport.packedExamples(examples, budget).collect()
      .map(r => (r.getLong(1), r.getString(0), r.getLong(2),
        r.getLong(4), r.getLong(5))) // (shard, conv, n_chars, idx, off)
    assert(out.length == 40)
    out.groupBy(_._1).foreach { case (_, rows) =>
      var cum = 0L
      rows.sortBy(_._2).foreach { case (_, _, nChars, idx, off) =>
        assert(idx == cum / budget && off == cum % budget)
        cum += nChars + 1
      }
    }
  }

  test("packDensity: per-pack rollup preserves totals and bounds density") {
    val examples = (0 until 30).map(i =>
      (f"conv_$i%03d", 2L, 900L + i * 17L, 250L + i))
      .toDF("conv_id", "n_turns", "n_chars", "train_chars")
    val packed = operators.TrainingExport.packedExamples(examples, 2048)
    val out = operators.TrainingExport.packDensity(packed).collect()
    assert(out.map(_.getAs[Long]("n_examples")).sum == 30L)
    assert(out.map(_.getAs[Long]("sum_train_chars")).sum ==
      (0 until 30).map(i => 250L + i).sum)
    out.foreach(r => assert(r.getAs[Long]("density_permille") <= 1000L))
  }

  test("recallAtK: hits bounded by exact, identical bucket contents give full recall") {
    // 64-dim vectors in two well-separated LSH buckets; queries at % 50
    val vecs = (0 until 120).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Array.tabulate(64)(j => base * (1.0f + ((i * 7 + j) % 5) * 0.01f)))
    }.toDF("vec_id", "embedding")
    val out = ann.Similarity.recallAtK(vecs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1)) // n_hits <= n_exact
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000L)
    }
  }

  test("convDedup: digit-normalized whole-conversation duplicates share a keeper") {
    val rows = Seq(
      // a and b: identical turn sequences up to digit runs
      ("a", 0, "user", "order 123 failed"),
      ("a", 1, "assistant", "retry 456 now"),
      ("b", 0, "user", "order 999 failed"),
      ("b", 1, "assistant", "retry 1 now"),
      // c: same turns but different role sequence → distinct key
      ("c", 0, "assistant", "order 123 failed"),
      ("c", 1, "user", "retry 456 now"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = Conversations.convDedup(rows).collect()
      .map(r => r.getAs[String]("conv_id") ->
        (r.getAs[String]("conv_key"), r.getAs[Long]("n_turns"),
          r.getAs[String]("keeper_conv"), r.getAs[Long]("n_dups"),
          r.getAs[Boolean]("is_keeper"))).toMap
    assert(out("a")._1 == out("b")._1 && out("a")._1 != out("c")._1)
    assert(out("a") == ((out("a")._1, 2L, "a", 2L, true)))
    assert(out("b") == ((out("a")._1, 2L, "a", 2L, false)))
    assert(out("c") == ((out("c")._1, 2L, "c", 1L, true)))
  }

  test("preferencePairs: prompt templates pair best/worst responses; ties break on ids") {
    val rows = Seq(
      // same prompt template (digits normalized) in three conversations,
      // identical response text in p1/p3 (logit tie) and a distinct one in p2
      ("p1", 0, "user", "help with ticket 111"),
      ("p1", 1, "assistant", "same reply text"),
      ("p2", 0, "user", "help with ticket 222"),
      ("p2", 1, "assistant", "a different reply"),
      ("p3", 0, "user", "help with ticket 333"),
      ("p3", 1, "assistant", "same reply text"),
      // singleton prompt → excluded (n_candidates < 2)
      ("q1", 0, "user", "unique question"),
      ("q1", 1, "assistant", "unique answer"),
      // user turn with no assistant follow-up → not a candidate
      ("r1", 0, "user", "help with ticket 444"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = Conversations.preferencePairs(rows).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_candidates") == 3L)
    assert(r.getAs[Long]("margin") ==
      r.getAs[Long]("chosen_logit") - r.getAs[Long]("rejected_logit"))
    assert(r.getAs[Long]("margin") >= 0L)
    // the tie between p1 and p3 must resolve by conv_id: if the tied pair is
    // both extremes, chosen is the larger id; either way ids are distinct
    assert(r.getAs[String]("chosen_conv") != r.getAs[String]("rejected_conv"))
    val tied = Set("p1", "p3")
    val logits = Map(
      r.getAs[String]("chosen_conv") -> r.getAs[Long]("chosen_logit"),
      r.getAs[String]("rejected_conv") -> r.getAs[Long]("rejected_logit"))
    if (logits.keySet == tied) // tie pair at both extremes
      assert(r.getAs[String]("chosen_conv") == "p3" &&
        r.getAs[String]("rejected_conv") == "p1")
  }

  test("branching: shared prefixes form trie nodes; divergence marks branch points") {
    val rows = Seq(
      // three rollouts share turn 0; a/b also share turn 1 then diverge at 2
      ("a", 0, "user", "fix bug 17"), ("a", 1, "assistant", "looking"), ("a", 2, "tool", "grep(x)"),
      ("b", 0, "user", "fix bug 99"), ("b", 1, "assistant", "looking"), ("b", 2, "tool", "cat(y)"),
      ("c", 0, "user", "fix bug 3"), ("c", 1, "assistant", "different path"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = Conversations.branching(rows).collect()
      .map(r => r.getInt(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // depth 0: one node of 3 convs, children {looking, different path} → branch
    assert(out(0) == Set((3L, 2L, true)))
    // depth 1: a+b share; children {grep(0), cat(y)} → branch. c's node is singleton → absent
    assert(out(1) == Set((2L, 2L, true)))
    // depth 2: a and b have distinct prefixes now → no shared node
    assert(!out.contains(2))
  }

  test("loopStats: repeat runs count and flag; digit runs normalize") {
    val rows = Seq(
      // run of 3 identical tool calls (digits differ) → max_run 3, flag
      ("l1", 0, "user", "go"), ("l1", 1, "tool", "retry 1"), ("l1", 2, "tool", "retry 2"),
      ("l1", 3, "tool", "retry 3"), ("l1", 4, "assistant", "done"),
      // no repeats at all
      ("l2", 0, "user", "hi"), ("l2", 1, "assistant", "hello"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = Conversations.loopStats(rows).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out("l1") == ((5L, 2L, 3L, true)))
    assert(out("l2") == ((2L, 0L, 1L, false)))
  }

  test("contextFit: tail chars accumulate from the end; budget gates the suffix") {
    val rows = Seq(
      ("c", 0, "user", "aaaa"),      // tail = 4+1 + 2+1 + 3+1 = 12 > 10 → dropped
      ("c", 1, "assistant", "bb"),   // tail = 3 + 4 = 7 → kept
      ("c", 2, "user", "ccc"))       // tail = 4 → kept
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = Conversations.contextFit(rows, budgetChars = 10).collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(2) == ((4L, true)))
    assert(out(1) == ((7L, true)))
    assert(out(0) == ((12L, false)))
  }

  test("preferencePairsText: ids rehydrate to the right prompt/response texts") {
    val rows = Seq(
      ("p1", 0, "user", "help with ticket 111"),
      ("p1", 1, "assistant", "short"),
      ("p2", 0, "user", "help with ticket 222"),
      ("p2", 1, "assistant", "a much longer different reply"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val pair = Conversations.preferencePairs(rows).collect()(0)
    val out = Conversations.preferencePairsText(rows).collect()
    assert(out.length == 1)
    val r = out(0)
    val texts = Map("p1" -> "short", "p2" -> "a much longer different reply")
    assert(r.getAs[String]("chosen_text") ==
      texts(pair.getAs[String]("chosen_conv")))
    assert(r.getAs[String]("rejected_text") ==
      texts(pair.getAs[String]("rejected_conv")))
    assert(r.getAs[String]("prompt_text").startsWith("help with ticket"))
    assert(r.getAs[Long]("margin") == pair.getAs[Long]("margin"))
    // the transcript side must never be the broadcast build side
    val plan = Conversations.preferencePairsText(rows)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("toolStats: per-tool counts and next-turn error attribution") {
    val rows = Seq(
      ("c1", 0, "user", "run it", null),
      ("c1", 1, "tool", "exit 1", "grep"),
      ("c1", 2, "assistant", "ERROR: failed", null),
      ("c1", 3, "tool", "ok", "grep"),
      ("c1", 4, "assistant", "fine", null),
      ("c2", 0, "tool", "done", "cat"))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
    val out = Conversations.toolStats(rows).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out("grep") == ((2L, 1L, 8L, 1L, 500L)))
    assert(out("cat") == ((1L, 1L, 4L, 0L, 0L)))
  }

  test("splitAssign: duplicate conversations share a split; thresholds partition buckets") {
    val rows = Seq(
      ("a", 0, "user", "order 123 failed"), ("a", 1, "assistant", "retry 456"),
      ("b", 0, "user", "order 999 failed"), ("b", 1, "assistant", "retry 1"),
      ("c", 0, "user", "something else"))
      .toDF("conv_id", "turn_idx", "role", "text")
    val out = Conversations.splitAssign(rows).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(3), r.getString(4)))).toMap
    // a and b are template duplicates → same key, same bucket, same split
    assert(out("a") == out("b"))
    assert(out("a")._1 != out("c")._1)
    out.values.foreach { case (_, bucket, split) =>
      assert(bucket >= 0 && bucket < 1000)
      val expected = if (bucket < 50) "test" else if (bucket < 100) "val" else "train"
      assert(split == expected)
    }
  }

  test("compactionPlan: file counts scale with partition volume, floor one") {
    val ts0 = java.sql.Timestamp.valueOf("2026-01-01 10:15:00")
    val big = "x" * 600000
    val rows = Seq(
      ("c1", 0, "user", s"event=login $big", ts0),
      ("c1", 1, "user", s"event=login $big", ts0),
      ("c1", 2, "user", s"event=login $big", ts0),   // 3 × 600012 chars → 2 files
      ("c2", 0, "user", "event=attention tiny", ts0)) // 1 row → 1 file
      .toDF("conv_id", "turn_idx", "role", "text", "ts")
    val out = graft.sinks.Sinks.compactionPlan(rows).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val loginChars = 3L * (12 + 600000)
    assert(out("login") == ((3L, loginChars,
      math.ceil(loginChars / 1048576.0).toLong, 2L)))
    assert(out("attention") == ((1L, 20L, 1L, 1L)))
  }

  test("scale shapes: conv dedup and preference pairs carry no text into the final agg") {
    val rows = turns.toDF("conv_id", "turn_idx", "role", "text")
    val dd = Conversations.convDedup(rows).queryExecution.executedPlan.toString
    assert(!dd.contains("CartesianProduct"))
    val pp = Conversations.preferencePairs(rows).queryExecution.executedPlan.toString
    assert(!pp.contains("CartesianProduct"))
  }

  test("scale shapes: no cartesian product in bm25 or scrub; render is one exchange") {
    val docs = Seq((0L, "a b c"), (1L, "a b d")).toDF("doc_id", "text")
    val bmPlan = computedPlan(Bm25.topK(docs))
    assert(!bmPlan.contains("CartesianProduct"))
    val scrubPlan = Boilerplate.scrub(docs).queryExecution.executedPlan.toString
    assert(!scrubPlan.contains("CartesianProduct"))
    val renderPlan = Conversations.renderChat(tdf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(renderPlan).size == 1)
  }

  test("cohortRetention: first-day cohorts count activity on later days") {
    val ts = (d: Int) => java.sql.Timestamp.valueOf(f"2024-01-$d%02d 10:00:00")
    val t = Seq(
      ("c1", ts(1)), ("c1", ts(1)), ("c1", ts(2)),   // cohort d1, active d1+d2
      ("c2", ts(2)))                                  // cohort d2
      .toDF("conv_id", "ts")
    val out = Conversations.cohortRetention(t).collect()
      .map(r => (r.getDate(0).toString, r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      ("2024-01-01", "2024-01-01") -> (1L, 0L),
      ("2024-01-01", "2024-01-02") -> (1L, 1L),
      ("2024-01-02", "2024-01-02") -> (1L, 0L)))
  }

  test("roleTransitions: counts per step, permille normalized within role") {
    val t = Seq(
      ("c1", 0, "user"), ("c1", 1, "assistant"), ("c1", 2, "user"),
      ("c1", 3, "assistant"),
      ("c2", 0, "assistant"), ("c2", 1, "tool"))
      .toDF("conv_id", "turn_idx", "role")
    val out = Conversations.roleTransitions(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(("user", "assistant")) == (2L, 1000L))
    assert(out(("assistant", "user")) == (1L, 500L))
    assert(out(("assistant", "tool")) == (1L, 500L))
    assert(out.size == 3)
  }

  test("weightedSample: heavier rows win the per-stratum cut; weight floors at 1") {
    val docs = Seq(
      (1L, "en", 2000000000L),   // priority ~ h/2e9 in {0,1}
      (2L, "en", 0L),            // floored weight 1 -> priority = full hash
      (3L, "de", 5L))
      .toDF("doc_id", "lang", "n_chars")
    val out = operators.Sampling.weightedSample(
      docs, org.apache.spark.sql.functions.col("n_chars"), k = 1)
      .collect().map(r => r.getString(1) -> r).toMap
    assert(out("en").getLong(0) == 1L)           // heavy doc selected
    assert(out("en").getLong(2) == 2000000000L)  // weight column carried
    assert(out("de").getLong(0) == 3L && out("de").getLong(4) == 1L)
  }

  test("shardManifest: order-independent checksum, id spans, shard split") {
    val docs = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma"), (3L, "delta"))
      .toDF("doc_id", "text")
    def h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        d.digest(s.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString, 16)
    }
    val out = operators.TrainingExport.shardManifest(docs, nShards = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    val s0 = out(0L)  // docs 0, 2
    assert(s0.getLong(1) == 2L && s0.getLong(2) == 10L)   // alpha+gamma chars
    assert(s0.getLong(3) == 0L && s0.getLong(4) == 2L)
    assert(s0.getLong(5) == (h32("alpha") % 1000003L + h32("gamma") % 1000003L) % 1000003L)
    // reordering the input must not move the checksum
    val again = operators.TrainingExport.shardManifest(
      docs.orderBy(org.apache.spark.sql.functions.col("doc_id").desc), nShards = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(again(0L) == s0.getLong(5))
  }

  test("convNearDup: digit-variant conversations pair at 1000, distinct ones don't") {
    // c1/c2: same 3-turn template sequence modulo digits -> jaccard 1000
    // c3: unrelated sequence -> no pair survives
    val t = Seq(
      ("c1", 0, "open file 12"), ("c1", 1, "run test 99"), ("c1", 2, "close it 5"),
      ("c2", 0, "open file 7"),  ("c2", 1, "run test 3"),  ("c2", 2, "close it 88"),
      ("c3", 0, "totally different"), ("c3", 1, "conversation here"), ("c3", 2, "third turn"))
      .toDF("conv_id", "turn_idx", "text")
    val out = Conversations.convNearDup(t).collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "c1" && out(0).getString(1) == "c2")
    assert(out(0).getLong(2) == 1000L)
  }

  test("funnel: engage/tool/error/recover stage counts and permilles") {
    // c1: full funnel incl. recovery (assistant after the error turn)
    // c2: user only; c3: errors but the last assistant turn precedes it
    val parsed = Seq(
      ("c1", 0L, "user", Option.empty[Long]), ("c1", 1L, "tool", Some(18456L)),
      ("c1", 2L, "assistant", None),
      ("c2", 0L, "user", None),
      ("c3", 0L, "user", None), ("c3", 1L, "assistant", None),
      ("c3", 2L, "tool", Some(547L)))
      .toDF("conv_id", "turn_idx", "role", "error_number")
    val r = Conversations.funnel(parsed).collect()(0)
    assert(r.getLong(0) == 3L)                       // n_convs
    assert(r.getLong(1) == 3L && r.getLong(2) == 2L) // engaged, tool
    assert(r.getLong(3) == 2L && r.getLong(4) == 1L) // errored, recovered
    assert(r.getAs[Long]("engaged_permille") == 1000L)
    assert(r.getAs[Long]("tool_used_permille") == 666L)
    assert(r.getAs[Long]("errored_permille") == 666L)
    assert(r.getAs[Long]("recovered_permille") == 333L)
  }

  test("frequentTrigrams: support counts distinct conversations — a " +
    "conversation looping one pattern still counts once") {
    // c1 and c3 contain user>assistant>tool(search) once; c2 twice (loop)
    val t = Seq(
      ("c1", 0L, "user", ""), ("c1", 1L, "assistant", ""),
      ("c1", 2L, "tool", "search"), ("c1", 3L, "assistant", ""),
      ("c2", 0L, "user", ""), ("c2", 1L, "assistant", ""),
      ("c2", 2L, "tool", "search"), ("c2", 3L, "user", ""),
      ("c2", 4L, "assistant", ""), ("c2", 5L, "tool", "search"),
      ("c3", 0L, "user", ""), ("c3", 1L, "assistant", ""),
      ("c3", 2L, "tool", "search"))
      .toDF("conv_id", "turn_idx", "role", "tool")
    val out = Conversations.frequentTrigrams(t, minSupport = 2L).collect()
    assert(out.length == 1)
    assert(out(0).getString(0) == "user:- > assistant:- > tool:search")
    assert(out(0).getLong(1) == 3L)   // c2's loop counts once
  }

  test("epochShuffle: every doc once per epoch, contiguous ranks, stable replay") {
    import org.apache.spark.sql.functions._
    import TestSpark.spark.implicits._
    val docs = (0L until 50L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = graft.operators.TrainingExport.epochShuffle(docs, epochs = 2, shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // each doc exactly once per epoch
    assert(out.groupBy(t => (t._1, t._2)).forall(_._2.length == 1))
    assert(out.count(_._2 == 0L) == 50 && out.count(_._2 == 1L) == 50)
    // ranks are 1..n within each (epoch, shard)
    out.groupBy(t => (t._2, t._3)).values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1L to g.length).toSeq)
    }
    // a doc's shard differs across epochs for SOME doc (fresh permutation)
    assert(out.filter(_._2 == 0L).map(t => t._1 -> t._3).toMap !=
      out.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap)
    // deterministic replay
    val again = graft.operators.TrainingExport.epochShuffle(docs.repartition(5),
      epochs = 2, shards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == out.toSet)
  }

  test("sharedPrefixMass: template-equal openings pool; short convs skip deep levels") {
    import TestSpark.spark.implicits._
    val t = Seq(
      ("c1", 0, "user", "hello 123"), ("c1", 1, "assistant", "sure 4"),
      ("c1", 2, "user", "thanks"),
      ("c2", 0, "user", "hello 999"), ("c2", 1, "assistant", "sure 77"),
      ("c3", 0, "user", "different opening")
    ).toDF("conv_id", "turn_idx", "role", "text")
    val out = graft.operators.Conversations.sharedPrefixMass(t).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    // depth 1: c1/c2 share the digit-collapsed "hello 0" opener
    assert(out(1L) == ((3L, 2L, 2L, 1L, 333L)))
    // depth 2: only c1/c2 are long enough, and they still share
    assert(out(2L) == ((2L, 1L, 2L, 1L, 500L)))
    // depth 3: c1 alone — nothing to share
    assert(out(3L) == ((1L, 1L, 0L, 0L, 0L)))
  }

  test("passAtK: exact falling-factorial pass@5, degenerate cases pinned") {
    import TestSpark.spark.implicits._
    // task t1: 10 trials, 2 successes → pass@5 = 1 − C(8,5)/C(10,5)
    //   = 1 − 56/252 → 1e6 − 222222 = 777778
    // task t2: 6 trials, 6 successes (n−c=0 < 5) → pass@5 = 1e6
    // task t3: 2 trials → pass@5 null
    def conv(id: String, task: String, ok: Boolean) = Seq(
      (id, 0L, "user", task, None: Option[Long]),
      (id, 1L, "assistant", "", if (ok) None else Some(18456L)))
    val rows =
      (1 to 10).flatMap(i => conv(s"a$i", "t1", i <= 2)) ++
      (1 to 6).flatMap(i => conv(s"b$i", "t2", ok = true)) ++
      (1 to 2).flatMap(i => conv(s"c$i", "t3", ok = false))
    val parsed = rows.toDF("conv_id", "turn_idx", "role", "tool", "error_number")
    val out = operators.Conversations.passAtK(parsed).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(out("t1") == ((10L, 2L, 200000L, 777778L)))
    assert(out("t2") == ((6L, 6L, 1000000L, 1000000L)))
    assert(out("t3") == ((2L, 0L, 0L, -1L)))
  }

  test("toolCostPareto: prefix-closed head includes the 80%-crossing tool") {
    import TestSpark.spark.implicits._
    val t = Seq(
      ("c1", 0L, "u", "aaaaaa", "t1"), ("c1", 1L, "a", "bbb", "t2"),
      ("c2", 0L, "u", "c", "t3")
    ).toDF("conv_id", "turn_idx", "role", "text", "tool")
    val out = graft.operators.Conversations.toolCostPareto(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    // total 10 bytes: t1 600‰ (head: 0 before), t2 300‰ (600 before,
    // crosses 800 → still head), t3 100‰ (900 before → tail)
    assert(out("t1") == ((1L, 6L, 1L, 600L, 600L, true)))
    assert(out("t2") == ((1L, 3L, 2L, 300L, 900L, true)))
    assert(out("t3") == ((1L, 1L, 3L, 100L, 1000L, false)))
  }

  test("rewordRetries: paraphrased same-role retry counts, role flips don't") {
    import TestSpark.spark.implicits._
    val t = Seq(
      ("c1", 0L, "user", "run the query"),
      ("c1", 1L, "user", "run the query now"),          // jac 750 → retry
      ("c1", 2L, "assistant", "ok"),                    // role flip: skipped
      ("c1", 3L, "assistant", "done totally different words"), // jac 0
      ("c2", 0L, "user", "lone turn")
    ).toDF("conv_id", "turn_idx", "role", "text")
    val out = graft.operators.Conversations.rewordRetries(t).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    assert(out("c1") == ((4L, 2L, 1L, 500L, 750L)))
    assert(out("c2") == ((1L, 0L, 0L, 0L, -1L)), "no pair → null max jac")
  }

  test("spanCorruption: sentinels number in order, clean doc gets the " +
    "bare final sentinel, inputs/targets reassemble exactly") {
    import TestSpark.spark.implicits._
    // doc 0: gate b%7==0 → block 0 corrupted; doc 1: gate (4+b)%7==0 →
    // block 3 corrupted (needs ≥10 tokens); doc 2 (8 tokens): clean
    val docs = Seq(
      (0L, "t0 t1 t2 t3 t4 t5 t6 t7"),
      (1L, "u0 u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11"),
      (2L, "v0 v1 v2 v3 v4 v5 v6 v7")
    ).toDF("doc_id", "text")
    val out = operators.TrainingExport.spanCorruption(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))).toMap
    assert(out(0L) == ((8L, 1L, "<extra_id_0> t3 t4 t5 t6 t7",
      "<extra_id_0> t0 t1 t2 <extra_id_1>")))
    assert(out(1L) == ((12L, 1L,
      "u0 u1 u2 u3 u4 u5 u6 u7 u8 <extra_id_0>",
      "<extra_id_0> u9 u10 u11 <extra_id_1>")))
    assert(out(2L) == ((8L, 0L, "v0 v1 v2 v3 v4 v5 v6 v7",
      "<extra_id_0>")))
  }
}
