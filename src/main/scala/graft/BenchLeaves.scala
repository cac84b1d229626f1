package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.Transcripts

/** The bench leaves: one ordered registry of the operator queries that
  * `graft.Bench` times after its pipeline pair, shared by the mains that
  * time subsets of them (`BenchExtra`, `BenchSf`). The registry order is
  * Bench's JSON key order. Also holds the bench session, the staged
  * transcript corpus and the frames every leaf reads.
  */
object BenchLeaves {

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the staged bench corpus is 64 small files; without these the
      // file-bin packer (128MB target + 4MB open cost) collapses the scan
      // to ~3 splits and caps parallelism — a small-file artifact a real
      // multi-TB table doesn't have
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Graft.prep(s)
  }

  /** Replicate the transcript corpus deterministically: conv_id gets a
    * replica suffix EXCEPT the hot conversation, which stays one key so
    * the 20% skew survives replication. The replica RANGE is the
    * partitioned stream side and the corpus is broadcast, so the bench
    * input is spread over 2×cpus tasks regardless of the single source
    * parquet file (at real scale the scan itself provides the splits). */
  def replicated(spark: SparkSession, sfDir: String, factor: Int, cpus: Int): DataFrame = {
    val t = Transcripts.load(spark, sfDir)
    val reps = spark.range(0, factor.toLong, 1, cpus * 2).select(col("id").as("rep"))
    reps.crossJoin(broadcast(t)).withColumn("conv_id",
      when(col("conv_id") === "conv_hot", col("conv_id"))
        .otherwise(concat(col("conv_id"), lit("_r"), col("rep"))))
      .drop("rep")
  }

  /** Stage the replicated corpus to partitioned parquet ONCE so the timed
    * path is scan → pipeline → noop, with scan parallelism from the file
    * splits — like a real multi-file table, not the synth/broadcast. */
  def stage(sfDir: String, factor: Int, parts: Int): String = {
    // key includes the synthesis SQL hash so a changed generator never
    // reuses stale staged data across rounds
    val synthV = math.abs(Transcripts.synthSql("x").hashCode)
    val dir = s"/tmp/graft_bench_${math.abs(sfDir.hashCode)}_${factor}_${parts}_$synthV"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/_SUCCESS"))) {
      val spark = session(8)
      try replicated(spark, sfDir, factor, 8)
        .repartition(parts).write.mode("overwrite").parquet(dir)
      finally spark.stop()
    }
    dir
  }

  /** The sink-shaped projection of the pipeline — the columns the
    * production sinks consume (doc_json + routing/partition keys), not
    * the full-width debug frame. */
  def routed(input: DataFrame): DataFrame =
    Pipeline.transform(input, input.sparkSession)
      .select("conv_id", "turn_idx", "ts", "name", "sink_index", "doc_json")

  def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** What the leaves read: the staged transcripts (`input`), their
    * routed and parsed frames, the documents replicated `factor`× with
    * offset ids (`docs`) and 10× as planted near-dups (`docs10`), the
    * embeddings (`vecs`), and the session's core count. */
  final case class Inputs(input: DataFrame, routed: DataFrame, parsedB: DataFrame,
                          docs: DataFrame, docs10: DataFrame, vecs: DataFrame,
                          cpus: Int)

  def inputs(spark: SparkSession, sfDir: String, factor: Int, cpus: Int,
             input: DataFrame, routed: DataFrame): Inputs = {
    // training-data headliners on a replicated docs corpus
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(spark.range(0, factor.toLong, 1, cpus).select(col("id").as("rep")))
      .withColumn("doc_id", col("doc_id") + col("rep") * 1000000L).drop("rep")
      .repartition(cpus * 2)
    // a 10× distinct-text corpus: each replica is a planted near-dup of
    // its original, so LSH, cluster and edit-distance stages do real work
    val docs10 = spark.read.parquet(s"$sfDir/documents.parquet")
      .crossJoin(spark.range(0, 10L, 1, cpus).select(col("id").as("rep")))
      .withColumn("doc_id", col("doc_id") * 16 + col("rep"))
      .withColumn("text", concat(col("text"), lit(" r"), col("rep")))
      .drop("rep").repartition(cpus * 2)
    Inputs(input, routed, Pipeline.parse(input), docs, docs10,
      spark.read.parquet(s"$sfDir/embeddings.parquet"), cpus)
  }

  /** How a leaf is clocked. */
  sealed trait Timing
  /** The frame is built before the clock starts; the clock covers its
    * noop write. */
  case object NoopWrite extends Timing
  /** The clock covers the build too: driver-loop builders, operators that
    * materialize their result inside a [[Graft.cached]] scope and
    * operators that sample their input run their own jobs while building. */
  case object EagerBuild extends Timing

  /** A leaf opened on its inputs: `build` makes the frame to time and
    * `close` drops what opening set up. */
  final case class Opened(build: () => DataFrame, close: () => Unit = () => ())

  final case class Leaf(name: String, timing: Timing, open: Inputs => Opened) {
    /** One timed run of an opened leaf: seconds, and the frame written. */
    def timed(o: Opened): (Double, DataFrame) = timing match {
      case NoopWrite =>
        val df = o.build()
        (timeNoop(df), df)
      case EagerBuild =>
        val t0 = System.nanoTime()
        val df = o.build()
        df.write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, df)
    }

    /** Open the leaf on `in`, hand its clock to `f`, then close it. */
    def run[A](in: Inputs)(f: (() => Double) => A): A = {
      val o = open(in)
      try f(() => timed(o)._1) finally o.close()
    }
  }

  def noop(name: String)(build: Inputs => DataFrame): Leaf =
    Leaf(name, NoopWrite, in => Opened(() => build(in)))

  def eager(name: String)(build: Inputs => DataFrame): Leaf =
    Leaf(name, EagerBuild, in => Opened(() => build(in)))

  /** Cache the routed frame so the ordered leaves time the ordering
    * shuffle+sort instead of re-measuring the parse pipeline. */
  private def onRoutedCache(name: String)(order: (DataFrame, Int) => DataFrame): Leaf =
    Leaf(name, NoopWrite, { in =>
      val cached = in.routed.persist(StorageLevel.DISK_ONLY)
      cached.count()
      Opened(() => order(cached, in.cpus), () => cached.unpersist())
    })

  val all: Seq[Leaf] = Seq(
    // skew evidence: the ordered (shuffle-by-conv) pipeline with and
    // without salting of the hot conversation
    onRoutedCache("ordered_plain")((cached, _) =>
      cached.repartition(col("conv_id")).sortWithinPartitions("conv_id", "turn_idx")),
    onRoutedCache("ordered_salted")((cached, cpus) =>
      operators.TurnOrdering.saltedRepartition(cached, Seq("conv_hot"), cpus)
        .sortWithinPartitions("conv_id", "_salt", "turn_idx")),

    noop("minhash_sigs")(in => dedup.Dedup.signatures(in.docs)),
    noop("simhash")(in => dedup.Dedup.simhashDf(in.docs)),
    noop("ann_topk")(in => ann.Similarity.bruteTopK(in.vecs)),
    noop("route_counts")(in => operators.Routing.perSinkCounts(in.routed)),

    // corpus-shaping ops: tf-idf over the replicated docs; curation on
    // the 10× distinct-text corpus (the LSH + cluster stages do real
    // work); sessionization over the full staged transcript corpus
    eager("tfidf")(in => text.TfIdf.topTerms(in.docs)),
    eager("curation")(in => dedup.Curation.curate(in.docs10)),
    noop("sessionize")(in => operators.Sessionize.sessionStats(in.input)),

    // round-3 corpus ops: hot-shingle aggregation + join-back
    // (boilerplate), the same plus the interval-merge window
    // (dup_spans), and the two-pass Lloyd step on the vectors
    noop("boilerplate")(in => text.Boilerplate.stats(in.docs)),
    noop("dup_spans")(in => text.Boilerplate.dupSpanCoverage(in.docs)),
    eager("kmeans_step")(in => ann.Centroids.kmeansIteration(in.vecs)),

    // round-4 ops: SFT rendering over the full staged transcripts
    // (one conv_id exchange, maxTurns-bounded groups), boilerplate
    // scrub (hot-span removal + per-row rewrite), and BM25 retrieval
    // on the 10× docs corpus — query count is the cost knob here:
    // the synthetic corpus's ~40-word vocabulary makes every doc a
    // candidate for every query, so the bench probes a handful of
    // queries (real corpora have power-law vocabularies and
    // posting-list selectivity)
    noop("chat_render")(in => operators.Conversations.renderChat(in.input)),
    noop("boiler_scrub")(in => text.Boilerplate.scrub(in.docs)),
    eager("bm25_topk")(in => text.Bm25.topK(in.docs10, queryMod = 100003)),

    // round-5 ops: conversation-level dedup over the full staged
    // transcripts (conv-key agg + 128-bit-keyed group), per-lang
    // quality deciles over the 50× docs (tiny (lang, logit) agg +
    // broadcast bucket join-back), and the SemDeDup verdict over
    // the embeddings (multi-probe LSH pair probe)
    noop("conv_dedup")(in => operators.Conversations.convDedup(in.input)),
    eager("quality_deciles")(in => text.CorpusOps.qualityDeciles(in.docs)),
    eager("semantic_dedup")(in => ann.Similarity.semanticDedup(in.vecs)),

    // round-6 ops: sketch aggregates over the parsed stream (the
    // bounded-state alternatives to exact percentiles/distincts),
    // the pruned-bigram LM scorer over the replicated docs, and
    // conversation-level near-dup LSH over template sequences
    // (turn-bounded: the sequence prefix is the dedup signal; the
    // hot conversation would otherwise collect 1M turns in one row)
    noop("hll_sketch")(in => operators.Sketches.hllDistinct(in.parsedB)),
    noop("log_hist")(in => operators.Sketches.logHistPercentiles(in.parsedB)),
    eager("lm_score")(in => text.LangModel.lmScore(in.docs)),
    // near-dup over the UNREPLICATED slice: the 50× bench replicas
    // are exact copies, so every conversation sits in a 50-clique
    // and the (correct) all-pairs output within cliques is
    // quadratic by construction — a staging artifact, not the
    // operator's shape on a real corpus
    eager("conv_neardup")(in => operators.Conversations.convNearDup(
      in.input.filter((col("conv_id").endsWith("_r0") ||
        col("conv_id") === "conv_hot") && col("turn_idx") < 256))),
    // round-7 ops: the Bloom prefilter over the replicated docs
    // (shingle explode → 8 KB word table → map-only probe) and the
    // z-order layout stats (pure map + one ≤64-row aggregate)
    eager("bloom_prefilter")(in => operators.Sketches.bloomPrefilter(in.docs)),
    noop("zorder_layout")(in => operators.Layout.layoutStats(in.docs)),
    // tokenizer APPLY (explode + 5 fold levels + one agg) and the
    // one-Expand rollup report
    noop("bpe_encode")(in => text.LangModel.bpeEncodeStats(in.docs)),
    noop("corpus_rollup")(in => text.TextAnalysis.corpusRollup(in.docs)),
    // round-8 ops: DSIR selection (bounded bucket table + broadcast
    // probe) and the inverted-index build (the vocabulary-sized
    // posting-stats artifact)
    eager("dsir_weights")(in => text.Selection.dsirWeights(in.docs)),
    noop("postings")(in => text.Bm25.postings(in.docs)),

    // round-9 ops: weighted PageRank over the tool-transition graph
    // (the corpus window pass dominates; the iterations run on the
    // |tools|²-bounded edge table) — timed as a whole build because
    // the unrolled loop materializes eagerly
    eager("pagerank")(in => graph.Graphs.toolPageRank(in.input)),
    // skew evidence for SEQUENCE windows (the ordered_plain/salted
    // pair covers repartition+sort): plain per-conv lag vs the
    // chunk-split window + boundary stitch on the same input — the
    // hot conversation is 20% of all rows in ONE sort task
    noop("tool_edges_plain")(in => graph.Graphs.toolTransitionEdges(in.input)),
    noop("tool_edges_salted")(in =>
      operators.SkewWindows.toolTransitionEdgesSalted(in.input)),
    // production entry: the measured-crossover dispatcher — timed
    // as a build so the key-count dispatch scan is INSIDE the clock;
    // must track the best of the two demonstration branches
    eager("tool_edges_auto")(in =>
      operators.SkewWindows.toolTransitionEdgesAuto(in.input)),
    // blocked edit-distance dedup on the 10× near-dup corpus (each
    // replica differs from its base by a 2-char suffix, so the
    // Levenshtein stage does real within-block work)
    noop("edit_dedup")(in => dedup.EditDedup.editPairs(in.docs10)),
    // triangle counting on the login co-occurrence graph (corpus pass
    // + aggregate-sized wedge join)
    eager("triangles")(in => graph.Graphs.loginTriangles(in.parsedB)),

    // round-10 ops: the generic as-of join (tool turns pick up the
    // latest change-log row at or before their ts — one key exchange
    // + window, no broadcast; tool cardinality is tiny, so this also
    // stresses the few-hot-keys sort path) and fixed-k trigram
    // mining (conv window → distinct → bounded agg)
    noop("asof_join") { in =>
      val tTool = in.input.filter(col("tool") =!= "")
      val changes = tTool.filter(col("turn_idx") % 37 === 0)
        .groupBy(col("tool"), col("ts").as("cfg_ts"))
        .agg((max(length(col("text"))).cast("long") % 997L).as("cfg_ver"))
      operators.AsOf.unionAsOf(
        tTool.select("conv_id", "turn_idx", "tool", "ts"),
        changes, "tool", "ts", "cfg_ts")
    },
    noop("action_trigrams")(in => operators.Conversations.frequentTrigrams(in.input)),

    // round-11 ops: robust median/MAD anomaly (one corpus hash-agg,
    // percentile work on the cached hourly frame); sorted-
    // neighborhood near-dup on the 10× suffix-edit corpus (each
    // replica sorts adjacent to its base — candidates are LINEAR in
    // n where a hot LSH bucket would be quadratic); the τ=0.5
    // mixture sample (plan agg + one source-keyed admit window)
    noop("robust_anomaly")(in => operators.Aggregates.robustAnomaly(in.parsedB)),
    noop("snm_pairs")(in => dedup.SortedNeighborhood.similarPairs(in.docs10)),
    noop("mixture_sample")(in =>
      operators.Sampling.mixtureSample(in.docs, budget = 100000L)),
    // per-source distinct-shingle diversity: the count-distinct
    // two-phase expansion is the cost; one source-keyed exchange
    noop("diversity")(in => text.CorpusOps.diversityStats(in.docs)),
    noop("curriculum")(in => operators.TrainingExport.curriculumInterleave(in.docs)),

    // round-12 ops: fuzzy LSH-band decontamination (eval band set
    // broadcast, corpus map-side probe), the per-source HLL overlap
    // matrix (one scan → register grids), per-lang robust quality z
    // (map scoring + two bounded histograms), the duplicate-size
    // histogram (content-key agg — the 50× replicas form real
    // clusters), retrieval eval (queries×k rehydrate only), the
    // cluster-balanced sample, and the 2-epoch shuffle plan
    noop("fuzzy_decontam")(in => text.Decontaminate.fuzzyFlags(in.docs)),
    noop("source_overlap")(in => operators.Sketches.sourceOverlapMatrix(in.docs)),
    eager("quality_z")(in => text.CorpusOps.qualityZ(in.docs)),
    noop("dup_histogram")(in => dedup.Dedup.dupSizeHistogram(in.docs)),
    eager("retrieval_eval")(in => text.Bm25.retrievalEval(in.docs10, queryMod = 100003)),
    noop("cluster_sample")(in =>
      operators.Sampling.clusterBalancedSample(in.vecs, budget = 1000L)),
    noop("epoch_shuffle")(in => operators.TrainingExport.epochShuffle(in.docs, epochs = 2)),

    // round-13 ops. Excision runs on the 10× corpus and is a
    // worst-case measure by construction: the ~40-word synthetic
    // vocabulary makes nearly every 3-shingle benchmark-tainted, so
    // per-doc matched-position sets approach the full shingle count
    // (real corpora excise slivers). dup_attribution sees the 50×
    // replicas as real 50-clusters; the b-bit screen rides the same
    // LSH candidates curation exercises; term_audit/script_profile
    // are pure map regex batteries; prune_plan is one fused-score
    // pass into a ≤41-row window; seasonal reuses the parsed frame.
    noop("decontam_excise")(in => text.Decontaminate.excise(in.docs10)),
    noop("dup_attribution")(in => dedup.Dedup.dupAttribution(in.docs)),
    noop("bbit_screen")(in => dedup.Dedup.bbitEstimates(in.docs10)),
    noop("term_audit")(in => text.Blocklist.termAudit(in.docs)),
    noop("script_profile")(in => text.TextAnalysis.scriptProfile(in.docs)),
    noop("prune_plan")(in => text.Selection.prunePlanShare(in.docs)),
    noop("seasonal_anomaly")(in => operators.Aggregates.seasonalAnomaly(in.parsedB)),

    // round-14 ops: vocab_drift and token_concentration share the
    // one (source, tok) explode+hash-agg shape (drift adds the
    // dense-grid pairwise pass on the aggregate); inter_arrival is
    // the (name, hour) lag window + per-name moment agg over the
    // full parsed bench corpus; ivf_separation is the broadcast
    // n×k scan with the map-side top-2 collapse.
    eager("vocab_drift")(in => text.CorpusOps.vocabDrift(in.docs)),
    noop("token_concentration")(in => text.CorpusOps.tokenConcentration(in.docs10)),
    noop("inter_arrival")(in => operators.Aggregates.interArrival(in.parsedB)),
    noop("ivf_separation")(in => ann.Similarity.separationMargin(in.vecs)),

    // round-15 ops: lateness is one per-file running-max window +
    // |names| hash-agg; tool_pareto is one corpus hash-agg with
    // window work on |tools| rows; reword_retries is one conv
    // window (lag of role + distinct token set) + conv hash-agg.
    noop("lateness_profile")(in => operators.Aggregates.latenessProfile(in.parsedB)),
    noop("tool_pareto")(in => operators.Conversations.toolCostPareto(in.input)),
    eager("reword_retries")(in => operators.Conversations.rewordRetries(in.input)),

    // round-16 ops: the DQ rule battery is one compiled map pass +
    // 1-row agg; star CC is a driver fixpoint loop (timed as a build,
    // not a noop write) over the chain-fixture edge set.
    noop("dq_rules")(in => operators.DqRules.ruleAudit(in.parsedB)),
    Leaf("connected_components", EagerBuild, { in =>
      val ccEdges = in.docs.select(col("doc_id").as("a"),
        (col("doc_id") + 1L).as("b"))
        .filter((col("doc_id") + 1L) % 100 =!= 0)
      Opened(() => graph.Graphs.connectedComponentsStar(ccEdges))
    }),
    // round-17: both detectors run on the (name, day) aggregate —
    // the corpus cost is the one dailyCounts hash-agg each.
    eager("volume_trend")(in => operators.Aggregates.volumeTrend(in.parsedB)),
    noop("cusum")(in => operators.Aggregates.cusumChangepoints(in.parsedB)),
    // round-18: the phrase probe re-shuffles only the anchor
    // sliver; KS runs one corpus hash-agg into tiny CDF windows.
    // Phrase search runs on the UNREPLICATED slice for the same
    // reason convNearDup does: the 50× bench replicas are exact
    // copies, so every query phrase matches every replica of every
    // matching doc and the result set is quadratic in the replica
    // count by construction — a staging artifact, not the
    // operator's shape on a real corpus (measured 85 s replicated
    // vs ~4 s unreplicated with identical plans).
    eager("phrase_search")(in =>
      text.Bm25.phraseSearch(in.docs.filter(col("doc_id") < 1000000L))),
    eager("ks_drift")(in => operators.Aggregates.ksDrift(in.parsedB)),
    // round-19: homoglyph fold is the exact-dedup hash-agg with a
    // translate() prepended; FD audit and TTL sim are aggregate work.
    eager("homoglyph_dups")(in => dedup.Dedup.homoglyphDups(in.docs10)),
    noop("ttl_simulation")(in => operators.Governance.ttlSimulation(in.parsedB)),
    // round-20: injection is a map-only regex battery + conv agg;
    // salient passage is the df agg + chunk explode + doc window.
    noop("injection_scan")(in => text.Injection.scan(in.input)),
    eager("salient_passage")(in => text.TfIdf.salientPassage(in.docs)),
    // round-21: pass@k is one conv agg + task window on conv rows;
    // collocations is the bigram/unigram agg pair.
    noop("pass_at_k")(in => operators.Conversations.passAtK(in.parsedB)),
    eager("collocations")(in => text.LangModel.collocations(in.docs)),

    // round-22: KMV set algebra / fertility / DP counts / k=v
    // schema census are each ONE corpus pass into a bounded agg;
    // IVM applies a signed delta to the pre-materialized daily
    // aggregate (the view exists before the refresh starts, so
    // only delta-agg + merge is timed); k-center is k driver-
    // sequenced corpus passes timed as a build.
    noop("kmv_sketch")(in => operators.Sketches.kmvSetOps(in.docs)),
    noop("fertility")(in => text.LangModel.fertility(in.docs)),
    noop("dp_counts")(in => operators.Governance.dpCounts(in.docs)),
    noop("arg_schema")(in => operators.DqRules.inferSchema(in.input)),
    Leaf("ivm_refresh", NoopWrite, { in =>
      val ivmCols = in.parsedB.select("name", "ts", "turn_idx")
      val ivmOld = operators.Aggregates
        .dailyCounts(ivmCols.filter(col("turn_idx") % 7 =!= 3))
        .persist(StorageLevel.MEMORY_AND_DISK)
      ivmOld.count()
      val ivmDelta = ivmCols.filter(col("turn_idx") % 7 === 3)
        .withColumn("sign", lit(1L)).select("name", "ts", "sign")
      Opened(() => operators.Aggregates.incrementalRefresh(ivmOld, ivmDelta),
        () => ivmOld.unpersist())
    }),
    eager("kcenter")(in => ann.Centroids.kCenterSelect(in.vecs)),

    // round-23: bootstrap CI fans the 2-int projection 64× and
    // map-side-combines into a 64-row agg — near the cost of 64
    // corpus passes compressed into one scan
    noop("bootstrap_ci")(in => operators.Sampling.bootstrapCI(in.docs)),
    // winnowing: O(n·w) per-row selection, census only on the
    // ~2/(w+1) winnowed sample
    noop("winnow")(in => dedup.Dedup.winnowStats(in.docs)),
    // rolling distinct: one corpus pass into the day×64 register
    // grid; the 7-day merge is a window on that aggregate (the
    // exact column intentionally included — it IS the recount
    // this sketch replaces, so the gap is visible in the timing)
    noop("rolling_distinct")(in => operators.Sketches.hllRollingDistinct(in.input)),
    // max-coverage runs k driver-sequenced rounds and returns a
    // local frame — timed as a build, like kcenter
    eager("max_coverage")(in => text.Selection.maxCoverageSelect(in.docs)),
    // k-anon generalization: one finest-grain agg + broadcast
    // grid joins back over the corpus
    noop("kanon_generalize")(in => operators.Governance.kAnonGeneralize(in.docs)),
    // sweep line: conv-span agg + day-keyed windows + day-grid math
    noop("concurrency")(in => operators.Sessionize.concurrencyProfile(in.input)),
    // template mining: head-vocab agg collected once, then a
    // map-only fused rebuild + skeleton census (one exchange)
    eager("log_templates")(in => operators.DqRules.logTemplates(in.input)),
    // bursts: one (day, tok) agg + grid math + day-window top-k
    noop("term_bursts")(in => operators.Conversations.termBursts(in.input)),
    // zone maps: narrow projection + (layout × shard) grid agg
    noop("zonemap_audit")(in => operators.Layout.zoneMapAudit(in.input)),
    // two-pass exact selection vs builtin full-group sort: the
    // same numbers, bounded memory — both timed for the A/B
    eager("exact_quantiles_2pass")(in => operators.Aggregates.exactQuantiles2Pass(in.parsedB))
  )

  private lazy val byName: Map[String, Leaf] = all.map(l => l.name -> l).toMap

  /** The registry leaf called `name`. */
  def apply(name: String): Leaf = byName.getOrElse(name,
    throw new NoSuchElementException(s"no bench leaf '$name'"))
}
