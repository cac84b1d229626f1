package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Pipeline
import graft.operators.{Filters, Routing}
import graft.functions.{Enrich, Grok}
import graft.sinks.Sinks
import graft.streaming.StreamingPipeline
import org.apache.spark.SparkBridge
import org.apache.spark.sql.streaming.StreamingQueryProgress
import PerfBench.{Outcome, Workload}

/** Shared output checks: per-sink counts recomputed from the sink files
  * against `Routing.perSinkCounts` over the same input. */
object Checks {
  type Counts = Map[(String, String), Long]

  def collect(df: DataFrame): Counts =
    df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  def expected(spark: SparkSession, input: DataFrame): Counts =
    collect(Routing.perSinkCounts(Pipeline.transform(input, spark)))

  def routed(c: Counts): Long = c.collect { case (("file", _), n) => n }.sum

  def sinksMatch(spark: SparkSession, root: String, want: Counts): Boolean = {
    val got = collect(Sinks.countsFromDisk(spark, root))
    if (got != want) System.err.println(s"[perfbench] sink counts differ under $root: " +
      s"${(got.toSet diff want.toSet).take(5)} vs ${(want.toSet diff got.toSet).take(5)}")
    got == want
  }

  def lineageEvents(spark: SparkSession, root: String): Long =
    spark.read.parquet(s"$root/lineage").agg(sum("n_events")).head().getLong(0)

  /** (files, bytes) written to the three sinks under `root`. */
  def sinkFiles(root: String): (Long, Long) = {
    val fb = Seq("file", "logstash", "elastic").map(s => Util.filesAndBytes(s"$root/$s"))
    (fb.map(_._1).sum, fb.map(_._2).sum)
  }
}

/** batch_backfill: the `graft.Main batch` path over the replicated corpus
  * (32 files, each spanning all 24 hours) into fresh sink directories. */
final class BatchBackfill(in: Gen.Inputs, runDir: String) extends Workload {
  private var want: Checks.Counts = Map.empty
  private var n = 0

  private def read(spark: SparkSession, dir: String) =
    spark.read.schema(StreamingPipeline.schema).parquet(dir)

  private def run(dir: String, root: String): Unit =
    graft.Main.main(Array("batch", dir, root))

  private def nextRoot(): String = { n += 1; s"$runDir/batch-$n" }

  /** Five untimed batch runs over the same input. Run times keep falling
    * for the first five or six runs while the JIT compiles (C2 spent ~80 s
    * of CPU in one 45 s run at local[4]); after two or three warm-up runs
    * the timed runs still fell by 25-35% within the measured phase. */
  def warmUp(spark: SparkSession): Unit = (1 to 5).foreach { _ =>
    val root = nextRoot()
    run(in.batch, root)
    Util.deleteTree(root)
  }

  def prepare(spark: SparkSession): Unit =
    want = Checks.expected(spark, read(spark, in.batch))

  /** One timed batch run plus its output check, its time appended to
    * `times`; returns the run's sink root and whether the check held. */
  private def timedRun(spark: SparkSession, out: Outcome, times: mutable.Buffer[Double],
                       wrap: (=> Unit) => Unit = body => body): (String, Boolean) = {
    val root = nextRoot()
    val ok = out.op("batch run") {
      val (_, t) = Util.time(wrap(run(in.batch, root)))
      times += t
      Checks.sinksMatch(spark, root, want) &&
        Checks.lineageEvents(spark, root) == Checks.routed(want)
    }
    (root, ok)
  }

  def measure(spark: SparkSession, seconds: Double): Outcome = {
    val out = new Outcome
    val times = mutable.ArrayBuffer[Double]()
    var committed = 0L
    var bytes = 0L
    val t0 = System.nanoTime()
    while ((times.sum < seconds || times.size < 3) && !PerfBench.overdue(t0, seconds)) {
      val (root, ok) = timedRun(spark, out, times)
      if (ok) { committed += Checks.routed(want); bytes += Checks.sinkFiles(root)._2 }
      Util.deleteTree(root)
    }
    out.put("events_per_s", committed / times.sum, "1/s")
    out.put("sink_bytes_per_event", bytes.toDouble / committed, "bytes")
    out.putBatchTimes(times.toSeq)
    out
  }

  def traced(spark: SparkSession, trace: Trace): Outcome = {
    val out = new Outcome
    // tracing overhead: the same batch run without and with spans
    val plain = mutable.ArrayBuffer[Double]()
    val spanned = mutable.ArrayBuffer[Double]()
    // ABBA order, so the JVM's warming over the four runs favours neither
    Seq(false, true, true, false).foreach { traced =>
      if (traced) Util.deleteTree(timedRun(spark, out, spanned, body => { trace.span("batch_run")(body); () })._1)
      else Util.deleteTree(timedRun(spark, out, plain)._1)
    }
    val runS = Util.median(spanned.toSeq)
    out.put("trace.overhead_ratio", runS / Util.median(plain.toSeq), "ratio")
    out.putBatchTimes(spanned.toSeq)

    // pipeline layers as cumulative prefixes into noop; self = difference
    val input = read(spark, in.batch)
    val kept = Filters.standardOnRaw(input)
    val parsed = Grok.parse(kept)
    val enriched = Enrich.enrich(parsed, spark)
    val routed = Pipeline.route(enriched, spark)
    val ordered = routed.repartition(col("conv_id")).sortWithinPartitions("conv_id", "turn_idx")
    val prefixes = Seq("sources.scan" -> input, "operators.Filters" -> kept,
      "functions.Grok" -> parsed, "functions.Enrich" -> enriched,
      "operators.Routing" -> routed, "operators.TurnOrdering" -> ordered)
    val (prefixTimes, _) = trace.span("pipeline_prefixes") {
      prefixes.map { case (name, df) =>
        val spans = (1 to 3).map(_ => trace.span(name)(Noop.write(df))._2)
        (name, Util.median(spans.map(_.seconds)), spans.last)
      }
    }
    out.put("sources.scan_s", prefixTimes.head._2, "s")
    prefixTimes.sliding(2).foreach { case Seq((_, prev, _), (name, t, _)) =>
      out.put(s"$name.self_s", t - prev, "s")
    }
    val orderWork = trace.work(prefixTimes.last._3)
    out.put("operators.TurnOrdering.shuffle_write_bytes", orderWork.shuffleWriteBytes.toDouble, "bytes")
    out.put("operators.TurnOrdering.task_skew", orderWork.taskSkew, "ratio")
    out.put("operators.Filters.kept_ratio", kept.count().toDouble / input.count(), "ratio")

    // sink phases on the persisted ordered frame, as writeAll runs them
    val root = nextRoot()
    trace.span("sinks") {
      val cached = ordered.persist()
      try {
        out.put("sinks.Sinks.persist_s", trace.span("sinks.persist")(cached.count())._2.seconds, "s")
        out.put("sinks.Sinks.cached_bytes", spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum.toDouble, "bytes")
        out.put("sinks.Sinks.file_s",
          trace.span("sinks.file")(Sinks.writeFile(cached, s"$root/file"))._2.seconds, "s")
        out.put("sinks.Sinks.logstash_s",
          trace.span("sinks.logstash")(Sinks.writeLogstash(cached, s"$root/logstash"))._2.seconds, "s")
        out.put("sinks.Sinks.elastic_s",
          trace.span("sinks.elastic")(Sinks.writeElastic(cached, s"$root/elastic"))._2.seconds, "s")
      } finally cached.unpersist(blocking = true)
    }
    val phases = Seq("persist_s", "file_s", "logstash_s", "elastic_s")
      .map(p => out.metrics(s"sinks.Sinks.$p")._1).sum
    out.put("sinks.Sinks.rest_s", runS - phases, "s")
    val (files, bytes) = Checks.sinkFiles(root)
    out.put("sinks.Sinks.files_written", files.toDouble, "count")
    out.put("sinks.Sinks.bytes_written", bytes.toDouble, "bytes")
    Util.deleteTree(root)

    Kernels.pipeline(spark, trace, read(spark, in.batch), out)
    out
  }
}

/** stream_arrivals: time-ordered small files drained through
  * `StreamingPipeline.start(availableNow, maxFilesPerTrigger = 1)` with a
  * fresh checkpoint — one query at a time (closed loop). The arrival
  * sequence is cut into `Windows` whole windows of `PerDrain` files; drain
  * d takes window d mod `Windows`, and the warm-up takes the files after
  * the last window. Its traced run also traces the analytics operator
  * leaves ([[AnalyticsLeaves]]). */
final class StreamArrivals(in: Gen.Inputs, runDir: String) extends Workload {
  val PerDrain = 10
  val Windows: Int = Gen.StreamFiles / PerDrain
  private val wants = mutable.Map[Seq[String], Checks.Counts]()
  private var drains = 0

  private def part(i: Int): String = f"${in.streamFiles}/part-$i%04d.parquet"

  private def files(d: Int): Seq[String] = {
    val first = (d % Windows) * PerDrain
    (first until first + PerDrain).map(part)
  }

  final case class Drain(wallS: Double, events: Long, bytes: Long,
                         progress: Seq[StreamingQueryProgress], ok: Boolean)

  /** Copy `fileList` into a fresh input directory; returns the drain's dir. */
  private def stage(fileList: Seq[String]): String = {
    drains += 1
    val dir = s"$runDir/drain-$drains"
    val inDir = Paths.get(s"$dir/in")
    Files.createDirectories(inDir)
    fileList.foreach(f => Files.copy(Paths.get(f), inDir.resolve(Paths.get(f).getFileName)))
    dir
  }

  /** Drain `dir/in` with one availableNow query; returns its progress. */
  private def runQuery(spark: SparkSession, dir: String): Seq[StreamingQueryProgress] = {
    val q = StreamingPipeline.start(spark, s"$dir/in", s"$dir/out", s"$dir/ckpt",
      availableNow = true, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  /** Drain one window and check the sinks against the batch counts over
    * the same files (computed outside the timed region). Staging, the
    * drain and the check run inside one `Try`: a failure of any of them
    * fails the window's micro-batches, and the run goes on. */
  private def drain(spark: SparkSession, out: Outcome, fileList: Seq[String],
                    trace: Option[Trace] = None): Drain = {
    var dir: Option[String] = None
    val t0 = System.nanoTime()
    val result = scala.util.Try {
      val d = stage(fileList)
      dir = Some(d)
      val want = wants.getOrElseUpdate(fileList, expected(spark, fileList))
      val (ps, wallS) = Util.time(trace.fold(runQuery(spark, d))(
        _.span("stream_drain")(runQuery(spark, d))._1))
      val commits = Option(Paths.get(s"$d/ckpt/commits").toFile.list()).getOrElse(Array.empty)
        .count(_.forall(_.isDigit))
      val ok = commits == fileList.size && ps.size == fileList.size &&
        Checks.sinksMatch(spark, s"$d/out", want) &&
        Checks.lineageEvents(spark, s"$d/out") == Checks.routed(want)
      Drain(wallS, Checks.routed(want), Checks.sinkFiles(s"$d/out")._2, ps, ok)
    }
    result.failed.foreach(_.printStackTrace())
    val drained = result.getOrElse(Drain((System.nanoTime() - t0) / 1e9, 0L, 0L, Nil, ok = false))
    // one operation per micro-batch: a failed drain fails all of them
    fileList.foreach(_ => out.op("micro-batch")(drained.ok))
    dir.foreach(Util.deleteTree)
    drained
  }

  /** A drain of the 4 files after the last window: the query start and
    * the first micro-batches of a JVM are the slowest. A 14-file warm-up
    * doubled set-up without flattening the timed micro-batches. */
  def warmUp(spark: SparkSession): Unit = {
    val dir = stage((Windows * PerDrain until Gen.StreamFiles).map(part))
    runQuery(spark, dir)
    Util.deleteTree(dir)
  }

  private def expected(spark: SparkSession, fileList: Seq[String]): Checks.Counts =
    Checks.expected(spark, spark.read.schema(StreamingPipeline.schema).parquet(fileList: _*))

  /** The batch counts of every window, the drains' oracle. */
  def prepare(spark: SparkSession): Unit =
    (0 until Windows).map(files).foreach(f => wants(f) = expected(spark, f))

  private def batchMs(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def summarize(out: Outcome, all: Seq[Drain]): Unit = {
    val ds = all.filter(_.ok)
    if (ds.isEmpty) return
    val trig = ds.flatMap(_.progress.map(batchMs(_, "triggerExecution") / 1e3))
    out.put("events_per_s", ds.map(_.events).sum / ds.map(_.wallS).sum, "1/s")
    out.put("sink_bytes_per_event", ds.map(_.bytes).sum.toDouble / ds.map(_.events).sum, "bytes")
    out.putBatchTimes(trig)
  }

  def measure(spark: SparkSession, seconds: Double): Outcome = {
    val out = new Outcome
    val ds = mutable.ArrayBuffer[Drain]()
    val t0 = System.nanoTime()
    while ((ds.map(_.wallS).sum < seconds || ds.isEmpty) && !PerfBench.overdue(t0, seconds))
      ds += drain(spark, out, files(ds.size))
    summarize(out, ds.toSeq)
    out
  }

  def traced(spark: SparkSession, trace: Trace): Outcome = {
    // tracing overhead is measured on the batch runs (ABBA): one untraced
    // drain before the traced one read the JVM's warming as overhead
    val out = new Outcome
    val traced = drain(spark, out, files(0), Some(trace))
    summarize(out, Seq(traced))
    val ps = traced.progress
    // micro-batch spans, placed on the drain span's clock
    ps.foreach { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      trace.record(s"microbatch-${p.batchId}", startMs, batchMs(p, "triggerExecution").toLong,
        Seq("addBatch_ms" -> batchMs(p, "addBatch"), "rows" -> p.numInputRows.toDouble))
    }
    val trig = ps.map(batchMs(_, "triggerExecution"))
    val add = ps.map(batchMs(_, "addBatch"))
    out.put("streaming.StreamingPipeline.addBatch_ms", Util.median(add), "ms")
    out.put("streaming.StreamingPipeline.overhead_ms",
      Util.median(trig.zip(add).map { case (t, a) => t - a }), "ms")
    SparkBridge.drainListenerBus(spark.sparkContext)
    val jobs = ps.map(p => Option(trace.streamJobs.get(p.batchId)).map(_.intValue).getOrElse(0))
    out.put("streaming.StreamingPipeline.jobs_per_batch", jobs.sum.toDouble / ps.size, "count")
    out.put("streaming.StreamingPipeline.batch_ms_slope", Util.slope(trig), "ms")
    AnalyticsLeaves.traced(spark, trace, in, out)
    out
  }
}

/** The analytics operator leaves: Bench's leaf names on Bench's input
  * shapes, timed as Bench times them (noop write; driver-loop leaves
  * around their own build). They run only in a traced run, as per-layer
  * metrics: one untraced pass warms every leaf and records its row count,
  * then one traced pass must repeat those counts. */
object AnalyticsLeaves {
  import graft.{dedup, graph, operators, text, ann}

  final case class Leaf(name: String, build: () => DataFrame)

  private def leaves(input: DataFrame, docs: DataFrame, vecs: DataFrame): Seq[Leaf] = {
    val parsed = Pipeline.parse(input)
    val ccEdges = docs.select(col("doc_id").as("a"), (col("doc_id") + 1L).as("b"))
      .filter((col("doc_id") + 1L) % 100 =!= 0)
    Seq(
      Leaf("connected_components", () => graph.Graphs.connectedComponentsStar(ccEdges)),
      Leaf("reword_retries", () => operators.Conversations.rewordRetries(input)),
      Leaf("winnow", () => dedup.Dedup.winnowStats(docs)),
      Leaf("chat_render", () => operators.Conversations.renderChat(input)),
      Leaf("hll_sketch", () => operators.Sketches.hllDistinct(parsed)),
      Leaf("tool_edges_auto", () => operators.SkewWindows.toolTransitionEdgesAuto(input)),
      Leaf("sessionize", () => operators.Sessionize.sessionStats(input)),
      Leaf("exact_quantiles_2pass", () => operators.Aggregates.exactQuantiles2Pass(parsed)),
      Leaf("ivf_separation", () => ann.Similarity.separationMargin(vecs)),
      Leaf("dq_rules", () => operators.DqRules.ruleAudit(parsed)),
      Leaf("dup_spans", () => text.Boilerplate.dupSpanCoverage(docs)))
  }

  /** Bench's docs shape: the corpus replicated with offset doc ids. */
  private def docs(spark: SparkSession, in: Gen.Inputs): DataFrame = {
    val cores = Runtime.getRuntime.availableProcessors
    spark.read.parquet(in.documents)
      .crossJoin(spark.range(0, Gen.DocReplicas.toLong, 1, cores).select(col("id").as("rep")))
      .withColumn("doc_id", col("doc_id") + col("rep") * 1000000L).drop("rep")
      .repartition(cores * 2)
  }

  /** Build + noop-write one leaf; returns its output rows. */
  private def runLeaf(l: Leaf): Long = {
    val obs = Observation()
    l.build().observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def traced(spark: SparkSession, trace: Trace, in: Gen.Inputs, out: Outcome): Unit = {
    val d = docs(spark, in)
    val ls = leaves(spark.read.parquet(in.transcripts), d, spark.read.parquet(in.embeddings))
    val rows = ls.map(l => l.name -> scala.util.Try(runLeaf(l)).toOption).toMap
    // operators that persist intermediates leave them to the caller
    spark.catalog.clearCache()
    val secs = trace.span("analytics") {
      ls.flatMap { l =>
        var s: Option[Double] = None
        out.op(l.name) {
          val (n, span) = trace.span(l.name)(runLeaf(l))
          val w = trace.work(span)
          s = Some(span.seconds)
          out.put(s"${l.name}.s", span.seconds, "s")
          out.put(s"${l.name}.shuffle_write_bytes", w.shuffleWriteBytes.toDouble, "bytes")
          out.put(s"${l.name}.spill_bytes", w.spillBytes.toDouble, "bytes")
          out.put(s"${l.name}.task_skew", w.taskSkew, "ratio")
          out.put(s"${l.name}.jobs", w.jobs.toDouble, "count")
          rows(l.name).contains(n)
        }
        s
      }
    }._1
    spark.catalog.clearCache()
    out.put("analytics.total_s", secs.sum, "s")
    out.put("analytics.geomean_s", Util.geomean(secs), "s")
    Kernels.analytics(spark, trace, d, out)
  }
}

/** A noop write: materializes every column of the frame, writes nothing. */
object Noop {
  def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Kernel ns/row on a cached in-memory slice, each fused kernel against
  * its declarative twin: the median of five noop passes, less the median
  * noop pass over the kernel's input columns alone, divided by the slice's
  * rows. `kernels.scan_ns_per_row` is the pass over the whole slice. */
object Kernels {
  val SliceRows = 100000
  /** Documents of the text kernels' slice: the declarative Winnow twin
    * (an interpreted O(n·w) lambda tree) takes ~5 ms per document. */
  val DocSliceRows = 200
  val Reps = 5

  private def medianPass(trace: Trace, name: String, df: DataFrame): Double =
    Util.median((1 to Reps).map(_ => trace.span(name)(Noop.write(df))._2.seconds))

  private def pair(trace: Trace, out: Outcome, module: String, input: DataFrame, rows: Long,
                   fused: DataFrame, twin: DataFrame): Unit = {
    val base = medianPass(trace, s"$module.input", input)
    def ns(t: Double) = (t - base) * 1e9 / rows
    out.put(s"$module.ns_per_row", ns(medianPass(trace, s"$module.fused", fused)), "ns/row")
    out.put(s"$module.twin_ns_per_row", ns(medianPass(trace, s"$module.twin", twin)), "ns/row")
  }

  private def cached(df: DataFrame): (DataFrame, Long) = {
    val c = df.persist(StorageLevel.MEMORY_ONLY)
    (c, c.count())
  }

  /** FusedFilter, FusedParse, FusedEnrich and JsonDoc. */
  def pipeline(spark: SparkSession, trace: Trace, input: DataFrame, out: Outcome): Unit =
    trace.span("kernels") {
      val (slice, n) = cached(input.limit(SliceRows))
      out.put("kernels.scan_ns_per_row",
        medianPass(trace, "kernels.scan", slice) * 1e9 / n, "ns/row")
      pair(trace, out, "functions.FusedFilter", slice, n,
        Filters.standardOnRaw(slice), Filters.standardOnRawDeclarative(slice))
      pair(trace, out, "functions.FusedParse", slice, n, Grok.parse(slice), Grok.parseRegex(slice))
      val (parsed, np) = cached(Grok.parse(slice))
      pair(trace, out, "functions.FusedEnrich", parsed, np,
        Enrich.withDerived(parsed), Enrich.withDerivedDeclarative(parsed))
      val (routed, nr) = cached(Pipeline.transform(slice, spark).drop("doc_json"))
      // the document struct of Pipeline.route
      val doc = struct(col("name"), col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("ts").as("@timestamp"), col("error_number"), col("severity_num"), col("state_num"),
        col("client_addr"), col("xe_severity_value"), col("xe_severity_keyword"),
        col("xe_category"), col("xe_description"), col("xe_acct_app"),
        col("entity_name"), col("sink_index"))
      pair(trace, out, "functions.JsonDoc", routed.select(doc), nr,
        routed.select(graft.functions.JsonDoc.jsonDoc(doc)), routed.select(to_json(doc)))
      Seq(slice, parsed, routed).foreach(_.unpersist(blocking = true))
    }

  /** ArrIntersectSize (text.FastTokExpr) and Winnow (dedup.WinnowExpr). */
  def analytics(spark: SparkSession, trace: Trace, docs: DataFrame, out: Outcome): Unit =
    trace.span("kernels") {
      val toks = docs.select(col("doc_id"),
        array_distinct(graft.text.FastTok.tokens(col("text"))).as("a"))
      val (pairs, n) = cached(toks.join(
        toks.select((col("doc_id") - 1L).as("doc_id"), col("a").as("b")), "doc_id")
        .limit(DocSliceRows))
      pair(trace, out, "text.FastTokExpr", pairs.select(size(col("a")) + size(col("b"))), n,
        pairs.select(graft.text.ArrIntersectSize.of(col("a"), col("b"))),
        pairs.select(size(array_intersect(col("a"), col("b")))))
      val (slice, nd) = cached(docs.limit(DocSliceRows))
      // leaf-level pair: both share the same census after the selection
      pair(trace, out, "dedup.WinnowExpr", slice, nd,
        graft.dedup.Dedup.winnowStats(slice), graft.dedup.Dedup.winnowStatsDeclarative(slice))
      Seq(pairs, slice).foreach(_.unpersist(blocking = true))
    }
}
