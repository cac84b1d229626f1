package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Declarative data-quality rule audit — the rule-TABLE-driven validator
  * that turns per-field ad-hoc checks into one compiled corpus pass. Each
  * rule is (name, applies-to predicate, ok predicate); the engine
  * compiles the whole rule set into constant expressions in a single
  * map-only scan (the Blocklist pattern), aggregates 2×|rules| counters
  * plus one deterministic violation sample per rule in ONE hash-agg to a
  * 1-row frame, and unpivots that row into the |rules|-row report. No
  * explode (a rule-set explode would fan the corpus |rules|×), no second
  * scan per rule.
  *
  * This is the contract-enforcement complement of the passive profilers:
  * fieldCoverage (q128) reports what IS present, parseHealth (q140) what
  * failed to parse; ruleAudit asserts what MUST hold (ranges, required
  * fields per event type, value shapes) and points at a first offender.
  */
object DqRules {

  /** (rule name, applies-to, ok-given-applies). A row violates a rule
    * when `appliesTo` holds and `ok` does not. */
  type Rule = (String, Column, Column)

  /** Contract rules over the parsed event frame. */
  def defaultRules: Seq[Rule] = Seq(
    ("severity_in_range",
      col("severity_num").isNotNull, col("severity_num").between(0, 25)),
    ("duration_non_negative",
      col("duration").isNotNull, col("duration") >= 0L),
    ("login_has_principal",
      col("name") === "login", col("principal").isNotNull),
    ("error_has_state",
      col("name") === "error_reported", col("state_num").isNotNull),
    ("client_addr_shape",
      col("client_addr").isNotNull,
      col("client_addr").rlike("^([0-9.]+|::1|<local machine>)$")))

  /** One compiled pass over `parsed`: per rule — rows in scope, rows in
    * violation, violation permille, and the lexicographically-first
    * offending (conv_id, turn_idx) sample key. */
  def ruleAudit(parsed: DataFrame, rules: Seq[Rule] = defaultRules): DataFrame = {
    // rule names are spliced into column names and the stack() SQL below
    rules.foreach { case (name, _, _) =>
      if (!name.matches("[A-Za-z0-9_]+"))
        throw new IllegalArgumentException(
          s"rule name '$name' must match [A-Za-z0-9_]+")
    }
    val sampleKey = concat(col("conv_id"), lit(":"),
      lpad(col("turn_idx").cast("string"), 6, "0"))
    val aggs = rules.flatMap { case (name, applies, ok) =>
      val viol = applies && !coalesce(ok, lit(false))
      Seq(
        sum(when(applies, 1L).otherwise(0L)).as(s"c_$name"),
        sum(when(viol, 1L).otherwise(0L)).as(s"v_$name"),
        min(when(viol, sampleKey)).as(s"s_$name"))
    }
    val one = parsed.agg(aggs.head, aggs.tail: _*)
    // round-6: unpivot the 1-row aggregate with stack() instead of a
    // union of per-rule selects — column pruning specialized each union
    // branch into its OWN 3-column aggregate over the corpus, so the
    // plan ran |rules| full scan+parse+agg passes (5 parquet scans in
    // the r5 plan, zero exchange reuse); stack keeps ONE aggregate and
    // unpivots the single row (the coverageDrift pattern). Same rows.
    val stackArgs = rules.map { case (name, _, _) =>
      s"'$name', c_$name, v_$name, s_$name"
    }.mkString(", ")
    one.select(expr(s"stack(${rules.length}, $stackArgs)" +
        " as (rule, n_checked, n_violations, first_offender)"))
      .select(col("rule"), col("n_checked"), col("n_violations"),
        expr("n_violations * 1000 DIV greatest(n_checked, 1L)")
          .as("viol_permille"),
        col("first_offender"))
  }

  /** Functional-dependency audit over candidate (determinant →
    * dependent) column pairs — the schema-mining half of the contract
    * check: "does error_number determine severity?" holds exactly when
    * no determinant value maps to two dependent values. Per pair: keys
    * in scope, keys violating (>1 distinct dependent), violation
    * permille, and the smallest violating key. The FD either blesses a
    * normalization (store the dependent once per key) or flags upstream
    * corruption when a known dependency breaks.
    *
    * Shape: one hash-agg per pair on (det, dep) — vocabulary-sized for
    * event metadata columns — then a key-level agg; the pair list is
    * static so the union is plan-time. */
  def fdAudit(parsed: DataFrame,
              pairs: Seq[(String, String)] = Seq(
                ("error_number", "severity_num"),
                ("name", "xe_category"),
                ("db_id", "name"))): DataFrame =
    pairs.map { case (det, dep) =>
      val grid = parsed
        .filter(col(det).isNotNull && col(dep).isNotNull)
        .groupBy(col(det).cast("string").as("k"))
        .agg(countDistinct(col(dep)).as("n_dep"))
      grid.agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("n_dep") > 1, 1L).otherwise(0L)).as("n_violating"),
          min(when(col("n_dep") > 1, col("k"))).as("first_violating_key"))
        .select(lit(s"$det->$dep").as("fd"), col("n_keys"),
          col("n_violating"),
          expr("n_violating * 1000 DIV greatest(n_keys, 1L)")
            .as("viol_permille"),
          col("first_violating_key"))
    }.reduce(_ unionByName _)

  /** Typed-schema inference from the raw k=v payload — the DISCOVERY
    * side of the type dictionary the parse stage (J1) hardcodes: per
    * (event name, payload key), how often the key appears and which
    * value shape it carries (int / hex / float / bool / empty / string),
    * with the majority type and a conflict flag when a key is seen with
    * more than one non-empty type. Run on a new feed BEFORE committing
    * a parse schema; a conflict row is an upstream contract break
    * ([[ruleAudit]] then enforces what this op discovered).
    *
    * Shape: the k=v explode is the only row multiplication (constant
    * per-row fan-out — the payload's own pair count); type tags are
    * constant regexes in the same pass; two hash-aggs land on the
    * (names × keys × 6)-bounded grid, the majority window runs on the
    * (names × keys) aggregate. */
  def inferSchema(transcripts: DataFrame): DataFrame = {
    // round-6: name via the fused lite scanner (identical to the
    // `^event=([a-z_0-9]+)` extract — FusedParseSpec contract) and the
    // per-kv KEY via substring_index instead of a third regex pass:
    // every kv matched `([a-z_0-9]+)=([^ ]*)`, so the text before the
    // first '=' IS the key group. The VALUE keeps its regex — `(.*)$`
    // carries Java line-terminator edge semantics a substring would not
    // reproduce on values containing newlines.
    val pairs = transcripts.select(
        graft.functions.FusedParse.nameLite(col("text")).as("name"),
        explode(KvExtract.kvs(col("text"))).as("kv"))
      .filter(col("name") =!= "")
      .select(col("name"),
        substring_index(col("kv"), "=", 1).as("key"),
        regexp_extract(col("kv"), "^[a-z_0-9]+=(.*)$", 1).as("value"))
      .filter(col("key") =!= "event")
    val typed = pairs.withColumn("vtype",
      when(col("value") === "", "empty")
        .when(col("value").rlike("^-?[0-9]+$"), "int")
        .when(col("value").rlike("^0x[0-9a-fA-F]+$"), "hex")
        .when(col("value").rlike("^-?[0-9]+\\.[0-9]+$"), "float")
        .when(col("value").isin("true", "false"), "bool")
        .otherwise("string"))
    val grid = typed.groupBy("name", "key", "vtype")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("name", "key")
      .orderBy(col("n").desc, col("vtype"))
    grid.withColumn("rk", row_number().over(w))
      .groupBy("name", "key").agg(
        sum("n").as("n_obs"),
        sum(when(col("vtype") =!= "empty", 1L).otherwise(0L)).as("n_types"),
        max(when(col("rk") === 1, col("vtype"))).as("majority_type"),
        max(when(col("rk") === 1, col("n"))).as("n_majority"))
      .withColumn("majority_permille", expr("n_majority * 1000 DIV n_obs"))
      .withColumn("conflict", col("n_types") > 1L)
  }

  /** Frequency-based log-template mining (the Drain-family idea run
    * declaratively): tokens frequent across the corpus stay literal,
    * rare tokens collapse to `<*>`, and the surviving skeletons are the
    * template census — the raw-feed triage view ("what SHAPES of event
    * flow here, and how often") that [[inferSchema]]'s typed census and
    * the digit-collapse key (q137/q218) can't give when the variable part
    * is a word, not a number. Wildcarding by FREQUENCY is self-tuning:
    * enum-like values survive as literals, free-text and ids collapse.
    *
    * Scale shape: one token-keyed hash-agg builds the head vocabulary —
    * by Zipf at most (corpus tokens / minCount) entries, broadcast-sized
    * by construction (at larger corpora minCount scales up with corpus
    * tokens, keeping the bound; it is a frequency FLOOR, so raising it
    * only sharpens the templates) — collected once and folded into the
    * fused [[graft.text.LogTemplate]] rebuild expression as a broadcast
    * set. The rebuild is then MAP-ONLY off the scan (token membership +
    * re-join in one native pass, no second token exchange, no per-turn
    * collect_list/sort — the declarative reassembly below re-shuffled
    * the full token stream and was the #1 bench cost); the only
    * exchange in the rebuild plan is the final template census. */
  def logTemplates(transcripts: DataFrame, minCount: Long = 50L): DataFrame = {
    val keepRows = transcripts
      .select(explode(graft.text.FastTok.rawTokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select("tok").collect()
    val set = new java.util.HashSet[String](keepRows.length * 2 + 16)
    keepRows.foreach(r => set.add(r.getString(0)))
    val bc = transcripts.sparkSession.sparkContext.broadcast(set)
    transcripts
      // zero-token turns drop on a CHEAP pre-rewrite predicate (has any
      // non-\s char ⟺ produces a template). Filtering on the template
      // itself — before OR after the agg — gets pushed below the
      // projection as isnotnull(log_template(...)) and the plan then
      // evaluates the rewrite kernel twice per row (PlanAudit caught
      // it; PlanSpec pins the single evaluation)
      .filter(col("text").isNotNull && col("text").rlike("\\S"))
      .select(graft.text.LogTemplate.rebuild(col("text"), bc).as("template"))
      .groupBy("template").agg(count(lit(1)).as("n_turns"))
  }

  /** Declarative reference for [[logTemplates]]: broadcast left join of
    * the exploded token stream against the head vocabulary + per-turn
    * collect_list reassembly. Same output (TemplateParitySpec), but the
    * rebuild re-shuffles every (conv, turn, pos, tok) row — kept as the
    * semantics contract, not the production path. */
  def logTemplatesDeclarative(transcripts: DataFrame,
                              minCount: Long = 50L): DataFrame = {
    val toks = transcripts.select(col("conv_id"), col("turn_idx"),
      posexplode(filter(split(col("text"), "\\s+"), t => t =!= ""))
        .as(Seq("pos", "tok")))
    val keep = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("tok"), lit(true).as("keep"))
    toks.join(broadcast(keep), Seq("tok"), "left")
      .groupBy("conv_id", "turn_idx")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"),
          when(col("keep"), col("tok")).otherwise("<*>").as("out")))),
        s => s.getField("out"))).as("template"))
      .groupBy("template").agg(count(lit(1)).as("n_turns"))
  }

  /** SCHEMA-EVOLUTION diff — [[inferSchema]] run on two corpus EPOCHS
    * and joined into per-(event, key) verdicts: `added` (new key),
    * `removed` (gone), `type_changed` (majority type moved — the
    * break-the-parser alarm), `stable`. The data-contract gate a feed
    * owner runs before promoting a producer release: q196's coverage
    * drift sees VOLUME moves, this sees SHAPE moves.
    *
    * Shape: two inferSchema passes (each one grid-bounded hash-agg +
    * window over the grid) and a full-outer equi-join OF the two grids
    * — aggregate-sized everywhere. */
  def schemaDiff(oldT: DataFrame, newT: DataFrame): DataFrame = {
    val o = inferSchema(oldT).select(col("name"), col("key"),
      col("n_obs").as("n_old"), col("majority_type").as("type_old"))
    val n = inferSchema(newT).select(col("name"), col("key"),
      col("n_obs").as("n_new"), col("majority_type").as("type_new"))
    o.join(n, Seq("name", "key"), "full_outer")
      .withColumn("n_old", coalesce(col("n_old"), lit(0L)))
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("verdict",
        when(col("type_old").isNull, "added")
          .when(col("type_new").isNull, "removed")
          .when(col("type_old") =!= col("type_new"), "type_changed")
          .otherwise("stable"))
      .withColumn("type_old", coalesce(col("type_old"), lit("")))
      .withColumn("type_new", coalesce(col("type_new"), lit("")))
      .select("name", "key", "n_old", "n_new", "type_old", "type_new",
        "verdict")
  }

  /** Benford's-law first-digit shares ‰, ⌊log₁₀(1+1/d)·1000⌋ for
    * d = 1..9 — the ONE constant table both engines render (the
    * dpCounts shared-constant pattern). */
  def benfordPermille: Seq[Long] =
    (1 to 9).map(d => (math.log10(1.0 + 1.0 / d) * 1000).toLong)

  /** BENFORD first-digit audit per source file — the fabricated-data /
    * unit-bug detector the distribution-shift tests (q235 KS on
    * magnitudes) cannot express: naturally-generated positive magnitudes
    * follow log-uniform first digits (31% ones … 4.6% nines), while
    * capped, rounded, defaulted, or synthetic feeds do not. Per file:
    * the observed first-digit shares of `duration`, the L1 distance ‰ to
    * the Benford table, and the most over-represented digit — a cheap
    * per-feed forensic flag.
    *
    * Integer-exact: first digit by string head (identical for positive
    * BIGINTs in both engines), shares micro-floored, the Benford table
    * rendered from [[benfordPermille]]. Shape: one (file, digit)
    * hash-agg off the scan; shares, L1, and the argmax run on that
    * ≤ files×9 grid. */
  def benfordAudit(parsed: DataFrame, flagMin: Long = 250L): DataFrame = {
    val bp = benfordPermille
    val bCase = (1 to 9).map(d => s"WHEN $d THEN ${bp(d - 1)}L")
      .mkString("CASE digit ", " ", " END")
    val digits = parsed
      .filter(col("duration").isNotNull && col("duration") >= 1L)
      .select(col("src_file"),
        substring(col("duration").cast("string"), 1, 1).cast("long")
          .as("digit"))
      .groupBy("src_file", "digit").agg(count(lit(1)).as("n_d"))
    // densified files×9 grid: an ABSENT digit deviates by its full
    // Benford share and must count in the L1
    val totals = digits.groupBy("src_file").agg(sum("n_d").as("n"))
    val shares = totals
      .select(col("src_file"), col("n"),
        explode(sequence(lit(1L), lit(9L))).as("digit"))
      .join(digits, Seq("src_file", "digit"), "left")
      .withColumn("n_d", coalesce(col("n_d"), lit(0L)))
      .withColumn("obs_permille", expr("n_d * 1000 DIV n"))
      .withColumn("benford_permille", expr(bCase))
      .withColumn("dev", col("obs_permille") - col("benford_permille"))
    shares.groupBy("src_file").agg(
        max("n").as("n_vals"),
        sum(abs(col("dev"))).as("l1_permille"),
        max(struct(col("dev"), (-col("digit")).as("nd"))).getField("nd")
          .as("_negd"))
      .withColumn("top_over_digit", -col("_negd"))
      .withColumn("flagged", col("l1_permille") >= flagMin)
      .select("src_file", "n_vals", "l1_permille", "top_over_digit",
        "flagged")
  }
}

/** Fused `k=v` pair extraction — one native walk producing exactly the
  * matches of `regexp_extract_all(text, "([a-z_0-9]+)=([^ ]*)", 0)`:
  * a match is a maximal `[a-z_0-9]+` run immediately followed by `=`
  * plus the greedy space-free value; non-overlapping, scan resumes
  * after each value (Java-regex leftmost semantics — interior positions
  * of a run can never start a match because backtracked run ends hit a
  * class char, not '='). KvParity test in FastTokSpec pins equality on
  * corpus + adversarial strings. The declared tokenization of q250 is
  * unchanged — only the engine evaluating it. */
object KvExtract {
  def kvs(text: Column): Column = graft.functions.Kernel.call("kv_extract", this,
    "compute", ArrayType(StringType, containsNull = false), Seq(text))

  private def isCls(c: Char) =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  def compute(input: UTF8String): ArrayData = {
    val s = input.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    while (i < n) {
      if (isCls(s.charAt(i))) {
        var j = i + 1
        while (j < n && isCls(s.charAt(j))) j += 1
        if (j < n && s.charAt(j) == '=') {
          var k = j + 1
          while (k < n && s.charAt(k) != ' ') k += 1
          out += UTF8String.fromString(s.substring(i, k))
          i = k
        } else i = j
      } else i += 1
    }
    new GenericArrayData(out.toArray[Any])
  }
}
