package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Transcripts

/** Scale-exponent bench: the SAME top-10 (by round-3 bench cost)
  * operators timed on sf0.1 and the 10× staged sf1 corpus in ONE
  * session, min-of-2 after a warmup run, with OUTPUT row counts at both
  * scales — the per-query time ratio against the 10× input ratio is the
  * empirical scaling exponent the 100×-scale-up claim rests on
  * (VERDICT r3 #5).
  *
  * Reading the ratios: a map-only or hash-agg query should land ≈10×
  * (linear); the clone-staged sf1 corpus (stage_sf1.py replicates each
  * document/embedding 10× with shifted ids) makes every doc a 10-clique,
  * so PAIR-PRODUCING queries (snm_pairs, semantic_dedup) legitimately
  * grow their OUTPUT superlinearly — that's why row counts ride along:
  * time ratio is judged against output growth, not assumed linear.
  *
  * Usage: runMain graft.BenchSf [sfdirA] [sfdirB]
  * (defaults /root/testdata/sf0.1 and /tmp/graft_sf1 — stage the latter
  * with tools/stage_sf1.py first).
  */
object BenchSf {
  import BenchLeaves.{Leaf, eager, noop}

  def main(args: Array[String]): Unit = {
    val dirA = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dirB = args.lift(1).getOrElse("/tmp/graft_sf1")
    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-bench-sf")
      .config("spark.sql.shuffle.partitions", "32")
      // the staged tables are one-or-few parquet files; without a small
      // split size the scan serializes into a handful of tasks (the same
      // small-file artifact the round-3 sf1 run hit — BASELINE.md)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Graft.prep(spark)
    // spark.driver.memory is launch-time-only in local mode (the JVM is
    // already running under sbt/runMain) — size the heap via
    // `sbt -J-Xmx16g` or JAVA_OPTS. Fail fast instead of silently
    // sweeping sf1 on a starved heap.
    val wantGb = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
      .toLowerCase.stripSuffix("g").toDouble
    val haveGb = Runtime.getRuntime.maxMemory / 1e9
    require(haveGb >= wantGb * 0.75,
      f"driver heap ${haveGb}%.1f GB < required ${wantGb}%.1f GB — launch " +
        "with -J-Xmx (spark.driver.memory cannot resize a running JVM)")

    // the routed pipeline, then the Bench leaves of the top-10 sweep
    val queries: Seq[Leaf] = noop("pipeline_routed")(_.routed) +: Seq(
      "reword_retries", "decontam_excise", "semantic_dedup", "pagerank",
      "max_coverage", "dup_spans", "boiler_scrub", "term_bursts",
      "snm_pairs", "connected_components").map(BenchLeaves(_))

    // tier 2 (arg "full"): the dedup/ANN/text families most exposed to
    // clique blowup on the clone staging — the sweep that caught
    // semantic_dedup's 120× is worth running over every operator whose
    // candidate space depends on collision statistics
    val tier2: Seq[Leaf] = Seq(
      BenchLeaves("minhash_sigs"),
      eager("lsh_neardup_clusters")(in => dedup.Dedup.nearDupClusters(in.docs)),
      BenchLeaves("curation"),
      BenchLeaves("edit_dedup"),
      BenchLeaves("winnow"),
      BenchLeaves("dup_histogram"),
      BenchLeaves("bm25_topk"),
      BenchLeaves("tfidf"),
      BenchLeaves("lm_score"),
      BenchLeaves("bpe_encode"),
      BenchLeaves("injection_scan"),
      BenchLeaves("dq_rules"),
      BenchLeaves("log_templates"),
      BenchLeaves("sessionize"),
      BenchLeaves("chat_render"),
      BenchLeaves("conv_dedup"),
      noop("branching")(in => operators.Conversations.branching(in.input)),
      // (brute-force topk deliberately absent: it is the QUADRATIC
      // eval baseline by contract — its 100× on 10× input is the
      // definition of the operator, not a finding)
      noop("ivf_topk")(in => ann.Similarity.ivfTopK(in.vecs)),
      BenchLeaves("ivf_separation"),
      BenchLeaves("kmeans_step"),
      // quantized-integer kernels riding the VecSqDist kernel (round-5): the
      // codebook crossJoin (n×M×codebook sq-dists) and the k-center
      // selection rounds
      noop("pq_adc_topk")(in => ann.PQ.adcTopK(in.vecs)),
      noop("kcenter_select")(in => ann.Centroids.kCenterSelect(in.vecs)),
      // round-5 session additions: the collapsed encode alone, the
      // fused sign-matrix map pass, and the dense-array Bloom probe
      noop("pq_encode")(in => ann.PQ.encode(in.vecs)),
      noop("rand_proj")(in => ann.RandomProjection.project(in.vecs)),
      BenchLeaves("bloom_prefilter"),
      // the r3-adjudicated multi-minute sf1 trio (q40/q176/q261): pair
      // output is quadratic in clone multiplicity BY CONTRACT, so the
      // judgment is time ratio vs OUTPUT-row ratio, never vs input
      noop("embed_neardup")(in => ann.Similarity.nearDupPairsCollapsed(in.vecs)),
      noop("setsim_join")(in =>
        dedup.SetSimJoin.similarPairs(in.docs, tauPermille = 600L)),
      noop("lsh_sweep") { in =>
        val docs = in.docs
        dedup.Dedup.lshSweep(docs
          .unionByName(docs.filter(col("doc_id") % 3 === 0)
            .withColumn("doc_id", col("doc_id") + 1100000L)
            .withColumn("text", concat(col("text"), lit(" tail marker"))))
          .unionByName(docs.filter(col("doc_id") % 5 === 0)
            .withColumn("doc_id", col("doc_id") + 2200000L)
            .withColumn("text", concat(col("text"),
              lit(" heavier edit with many extra trailing tokens appended here"
                + " to pull the jaccard into a middle band")))))
      },
      BenchLeaves("hll_sketch"),
      BenchLeaves("fuzzy_decontam"))

    val times = scala.collection.mutable.LinkedHashMap[(String, String), Double]()
    val rows = scala.collection.mutable.LinkedHashMap[(String, String), Long]()

    val full = args.lift(2).contains("full")
    // harness-only subset (comma-separated exact names) for targeted
    // re-sweeps of just-touched kernels; full table stays the default
    val only = sys.env.get("GRAFT_BENCHSF_ONLY").map(_.split(",").toSet)
    val qs = (queries ++ (if (full) tier2 else Nil))
      .filter(q => only.forall(_.contains(q.name)))
    def visit(tag: String, dir: String): Unit = {
      val t = Transcripts.load(spark, dir)
      // one corpus per scale: the docs serve as Bench's 10× docs too
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val in = BenchLeaves.Inputs(t, BenchLeaves.routed(t), Pipeline.parse(t),
        docs, docs, spark.read.parquet(s"$dir/embeddings.parquet"), 32)
      for (leaf <- qs) {
        val name = leaf.name
        // keep the last built frame so the row-count pass reuses it
        // instead of re-running eager driver-loop builders a 4th time
        var lastDf: DataFrame = null
        val opened = leaf.open(in)
        val run = () => { val (secs, df) = leaf.timed(opened); lastDf = df; secs }
        val key = (name, tag)
        try {
          run() // warmup (codegen + JIT + shuffle-file cache)
          val best = math.min(run(), run())
          times(key) = math.min(times.getOrElse(key, Double.MaxValue), best)
          if (!rows.contains(key)) rows(key) = lastDf.count()
        } finally opened.close()
        println(f"[$tag] $name%-22s ${times(key)}%8.2f s  rows=${rows(key)}")
      }
    }

    // interleave the two scales (A,B,A): host contention comes in
    // minute-scale phases; min across interleaved visits is the
    // contention-free estimate (same discipline as Bench)
    visit("A", dirA); visit("B", dirB); visit("A", dirA)

    val names = qs.map(_.name)
    println("\n| query | t(sfA) s | t(sfB) s | time ratio | rows A | rows B | row ratio |")
    println("|---|---|---|---|---|---|---|")
    for (n <- names) {
      val (ta, tb) = (times((n, "A")), times((n, "B")))
      val (ra, rb) = (rows((n, "A")), rows((n, "B")))
      println(f"| $n | $ta%.2f | $tb%.2f | ${tb / ta}%.1f× | $ra | $rb | ${rb.toDouble / math.max(ra, 1)}%.1f× |")
    }
    val qjson = names.map { n =>
      f""""$n":{"t_a":${times((n, "A"))}%.3f,"t_b":${times((n, "B"))}%.3f,"rows_a":${rows((n, "A"))},"rows_b":${rows((n, "B"))}}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"sf_scaling","dir_a":"$dirA","dir_b":"$dirB","queries":$qjson}""")
    spark.stop()
  }
}
