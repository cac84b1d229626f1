package graft

import org.apache.spark.sql.functions._

/** Isolation bench (guide §1.4): times any SUBSET of the Bench.scala
  * headline leaves ([[BenchLeaves]]) on the SAME staged corpus with the
  * SAME session configuration and timing modes, so a single operator can
  * be A/B-ed in seconds instead of re-running the full 25-minute harness.
  * Never used for driver-facing numbers — Bench.scala stays the one
  * measurement contract; this main exists so optimization rounds can
  * iterate per-query (see OPTIMIZATION_r06.md). Besides the registry it
  * knows the old formulations of a few leaves, for A/B runs.
  *
  * Usage: sbt "runMain graft.BenchExtra q1 q2 ..." (no args = all).
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPL,
  *      SPARK_GRAFT_SAMPLES (min-of-N per query, default 2).
  */
object BenchExtra {
  import BenchLeaves.noop

  // ---- old-formulation A/B twins (round-6 regression adjudication) ----
  private val twins: Seq[BenchLeaves.Leaf] = Seq(
    noop("reword_chunked")(in =>
      operators.Conversations.rewordRetries(in.input, hotKeyRows = 1L)),
    noop("injection_lengate") { in =>
      // the wave-1 form: length>=48 gate (regex runs on ~every row)
      val withLt = in.input.select(col("conv_id"), col("turn_idx"),
        col("text"), lower(col("text")).as("_lt"))
      val lt = col("_lt"); val tc = col("text")
      val gates: Map[String, org.apache.spark.sql.Column] = Map(
        "override" -> (lt.contains("ignore ") || lt.contains("disregard ")),
        "exfil" -> (lt.contains("system prompt") ||
          lt.contains("hidden instructions") || lt.contains("initial prompt")),
        "encoding" -> (length(tc) >= 48),
        "roleplay" -> (lt.contains("you are now") || lt.contains("pretend to be") ||
          lt.contains("jailbreak") || lt.contains("developer mode") ||
          lt.contains("do anything now")))
      val flags = graft.text.Injection.Patterns.map { case (cat, re) =>
        cat -> (gates(cat) && col("text").rlike(re)) }
      val any = flags.map(_._2).reduce(_ || _)
      val perTurn = withLt.select(
        col("conv_id") +: col("turn_idx") +:
          flags.map { case (c, f) => f.as(s"f_$c") } :+ any.as("f_any"): _*)
      perTurn.groupBy("conv_id").agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("f_override"), 1L).otherwise(0L)).as("n_override"),
        sum(when(col("f_exfil"), 1L).otherwise(0L)).as("n_exfil"),
        sum(when(col("f_encoding"), 1L).otherwise(0L)).as("n_encoding"),
        sum(when(col("f_roleplay"), 1L).otherwise(0L)).as("n_roleplay"),
        sum(when(col("f_any"), 1L).otherwise(0L)).as("n_flagged"),
        min(when(col("f_any"), col("turn_idx"))).as("first_offending_turn"))
        .filter(col("n_flagged") > 0)
    },
    noop("rolling_old") { in =>
      import org.apache.spark.sql.expressions.Window
      val keyCol = "conv_id"; val windowDays = 7
      val h = conv(substring(md5(col(keyCol)), 1, 8), 16, 10).cast("long")
      val dayNum = (unix_timestamp(col("ts")) / 86400L).cast("long")
      val dayRegs = in.input
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
      val est = operators.Sketches.hllEstimate(rolled.select(
          col("day_num").as("name"), col("reg"), col("mr").as("m")))
        .withColumnRenamed("name", "day_num")
      val pairs = in.input
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
    },
    noop("chat_old")(in => in.input
      .filter(col("turn_idx") < 4096)
      .groupBy("conv_id")
      .agg(array_sort(collect_list(struct(col("turn_idx"), col("role"), col("text"))))
        .as("turns"))
      .select(col("conv_id"),
        size(col("turns")).cast("long").as("n_turns"),
        array_join(transform(col("turns"),
          t => concat(lit("<|"), t("role"), lit("|>"), t("text"))), "\n")
          .as("rendered"))
      .withColumn("n_chars", length(col("rendered")).cast("long"))))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val maxLevel = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)
    val low = math.max(maxLevel / 16, 2)
    val high = math.min(low * 4, maxLevel)
    val factor = sys.env.get("SPARK_GRAFT_REPL").map(_.toInt).getOrElse(50)
    val samples = sys.env.get("SPARK_GRAFT_SAMPLES").map(_.toInt).getOrElse(2)
    // the corpus Bench stages and times, staged here if Bench has not run
    val staged = BenchLeaves.stage(sfDir, factor, high * 4)
    val cpus = maxLevel

    val spark = BenchLeaves.session(cpus)
    val input = spark.read.parquet(staged)
    val in = BenchLeaves.inputs(spark, sfDir, factor, cpus, input, BenchLeaves.routed(input))
    val leaves = BenchLeaves.all ++ twins

    val wanted = if (args.isEmpty) leaves.map(_.name) else args.toSeq
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (name <- wanted) {
      val leaf = leaves.find(_.name == name).getOrElse(
        sys.error(s"unknown query '$name'; known: ${leaves.map(_.name).mkString(", ")}"))
      spark.sparkContext.setJobDescription(s"extra:$name")
      results(name) = leaf.run(in) { clock =>
        clock() // warmup (codegen + JIT)
        Seq.fill(samples)(clock()).min
      }
      println(f"[extra] $name ${results(name)}%.3f")
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"bench_extra","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
