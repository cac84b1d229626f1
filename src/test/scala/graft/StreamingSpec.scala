package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.sources.Transcripts
import graft.streaming.StreamingPipeline

/** Checkpoint/lineage semantics (ST2/ST3, `pkg/status/status.go:175-363`):
  * run batch 1 → lineage present; append data; resume from checkpoint →
  * only new rows routed, no duplicates; lineage sums equal routed totals. */
class StreamingSpec extends SparkSpec {

  test("streaming resumes from checkpoint without duplicating committed batches") {
    val root = "/tmp/graft_stream_spec"
    Graft.rmTree(root)
    val t = Transcripts.load(spark, tiny).cache()
    val part1 = t.filter(col("turn_idx") % 2 === 0)
    val part2 = t.filter(col("turn_idx") % 2 =!= 0)
    // sinks hold ROUTED rows (post-filter), not raw input rows
    val routed1 = Pipeline.transform(part1, spark).count()
    val total = Pipeline.transform(t, spark).count()

    // batch 1: only part1 staged
    part1.coalesce(1).write.parquet(s"$root/input/f1")
    StreamingPipeline.start(spark, s"$root/input/*", s"$root/sinks", s"$root/ckpt")
      .awaitTermination()
    val after1 = spark.read.text(s"$root/sinks/logstash").count()
    assert(after1 == routed1)

    // append part2, resume with the SAME checkpoint
    part2.coalesce(1).write.parquet(s"$root/input/f2")
    StreamingPipeline.start(spark, s"$root/input/*", s"$root/sinks", s"$root/ckpt")
      .awaitTermination()
    val after2 = spark.read.text(s"$root/sinks/logstash").count()
    assert(after2 == total, s"expected $total routed rows, got $after2 (dupes or loss)")

    // lineage rows sum to the routed total (north rule)
    val lineageSum = spark.read.parquet(s"$root/sinks/lineage")
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(lineageSum == total)
    // two batches committed
    val batches = spark.read.parquet(s"$root/sinks/lineage")
      .select("batch_id").distinct().count()
    assert(batches == 2)
    t.unpersist()
  }

  test("streaming dead-letter quarantine captures unnameable rows with " +
    "lineage; the happy-path sinks exclude them") {
    val root = "/tmp/graft_stream_dlq"
    Graft.rmTree(root)
    val t = Transcripts.load(spark, tiny)
    val mangled = t.withColumn("text",
      when(col("turn_idx") % 50 === 7, lit(""))
        .when(col("turn_idx") % 50 === 21, concat(lit("junk "), col("text")))
        .otherwise(col("text")))
    mangled.write.parquet(s"$root/in")
    val q = StreamingPipeline.start(spark, s"$root/in", s"$root/sinks",
      s"$root/ckpt", availableNow = true, quarantineDir = Some(s"$root/dlq"))
    q.awaitTermination()
    val dlq = spark.read.parquet(s"$root/dlq/batch=0")
    val expected = mangled.filter(
      col("turn_idx") % 50 === 7 || col("turn_idx") % 50 === 21).count()
    assert(dlq.count() == expected && expected > 0)
    val reasons = dlq.groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reasons.keySet == Set("empty_text", "unparsed"))
    // quarantined rows never reach the routed sink
    val routedRows = spark.read.text(s"$root/sinks/logstash").count()
    val batchRouted = Pipeline.transform(mangled, spark).count()
    assert(routedRows == batchRouted)
  }

  test("streaming throttle: quota enforced ACROSS micro-batches; " +
    "single-batch verdicts equal the batch plan") {
    implicit val sp = spark
    import TestSpark.spark.implicits._
    val root = "/tmp/graft_throttle_stream"
    Graft.rmTree(root)
    // increasing event times inside ONE hour cell: the zero-delay
    // watermark advances past batch 1, so batch 2 must sit later
    def at(i: Int) = java.sql.Timestamp.valueOf(
      f"2024-01-15 10:${i / 60}%02d:${i % 60}%02d")
    val f1 = (1 to 60).map(i => (s"c$i", i.toLong, "login", at(i)))
      .toDF("conv_id", "turn_idx", "name", "ts")
    f1.write.parquet(s"$root/in/f1")
    def run(): Unit = {
      val stream = spark.readStream.schema(f1.schema).parquet(s"$root/in/*")
      val q = graft.streaming.ThrottleStream.verdicts(stream).toDF()
        .writeStream.format("parquet").option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    val got1 = spark.read.parquet(s"$root/out")
    assert(got1.count() == 60 && got1.filter(col("allowed")).count() == 50)
    val batch = operators.Sampling.throttle(f1)
      .select("conv_id", "turn_idx", "name", "hour", "rk", "allowed")
    val streamed1 = got1
      .select("conv_id", "turn_idx", "name", "hour", "rk", "allowed")
    assert(streamed1.except(batch).count() == 0 &&
      batch.except(streamed1).count() == 0,
      "one-batch streaming verdicts must equal the batch plan")
    // second micro-batch, same cell: the counter resumes at 60 → all defer
    (61 to 80).map(i => (s"c$i", i.toLong, "login", at(i)))
      .toDF("conv_id", "turn_idx", "name", "ts")
      .write.parquet(s"$root/in/f2")
    run()
    val got2 = spark.read.parquet(s"$root/out")
    assert(got2.count() == 80 && got2.filter(col("allowed")).count() == 50)
    assert(got2.filter(col("turn_idx") >= 61 && col("allowed")).count() == 0)
  }

  test("streaming sink counts equal batch pipeline counts (routed-row equality)") {
    val root = "/tmp/graft_stream_spec2"
    Graft.rmTree(root)
    Transcripts.load(spark, tiny).repartition(3).write.parquet(s"$root/input")
    StreamingPipeline.start(spark, s"$root/input", s"$root/sinks", s"$root/ckpt")
      .awaitTermination()
    val streamCounts = Sinks.countsFromDisk(spark, s"$root/sinks")
    val batchCounts = graft.operators.Routing.perSinkCounts(Pipeline.routed(spark, tiny))
    assert(streamCounts.except(batchCounts).count() == 0)
    assert(batchCounts.except(streamCounts).count() == 0)
  }

  test("streaming logstash artifacts equal batch doc_json rows as a MULTISET") {
    // stronger than the per-sink counts: the exact serialized documents,
    // with multiplicity, match between the streamed sink files and the
    // batch route — the north rule's routed-row equality at row level
    val root = "/tmp/graft_stream_spec2" // reuse artifacts from prior test
    val artifact = spark.read.text(s"$root/sinks/logstash")
      .groupBy(col("value").as("doc_json")).count()
    val batch = Pipeline.routed(spark, tiny)
      .groupBy("doc_json").count()
    assert(artifact.except(batch).count() == 0 &&
      batch.except(artifact).count() == 0,
      "streamed doc_json multiset must equal the batch route multiset")
  }

  test("per-turn text equality through the file sink under stable ordering") {
    // the north rule's core invariant: what comes out of the sink is the
    // same per-turn text, recoverable in (conv_id, turn_idx) order
    val root = "/tmp/graft_stream_spec2" // reuse artifacts from prior test
    val sunk = spark.read.text(s"$root/sinks/file")
      .select(
        get_json_object(col("value"), "$.conv_id").as("conv_id"),
        get_json_object(col("value"), "$.turn_idx").cast("int").as("turn_idx"),
        get_json_object(col("value"), "$.name").as("name"))
    val expected = Pipeline.routed(spark, tiny)
      .select("conv_id", "turn_idx", "name")
    assert(sunk.except(expected).count() == 0)
    assert(expected.except(sunk).count() == 0)
  }

  test("stream micro-batch jobs: no broadcast job and at most 7 jobs per " +
    "micro-batch over a one-file-per-trigger drain") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = "/tmp/graft_stream_jobs"
    Graft.rmTree(root)
    val t = Transcripts.load(spark, tiny)
    t.filter(col("turn_idx") % 2 === 0).coalesce(1).write.parquet(s"$root/in/f1")
    t.filter(col("turn_idx") % 2 =!= 0).coalesce(1).write.parquet(s"$root/in/f2")
    // (query id, batch id, broadcast?) of every job a micro-batch runs
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Boolean)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Option(e.properties).foreach { p =>
        Option(p.getProperty("streaming.sql.batchId")).foreach { b =>
          // a broadcast job carries the job tag "broadcast exchange (runId ...)"
          jobs.add((p.getProperty("sql.streaming.queryId"), b.toLong,
            Option(p.getProperty("spark.job.tags")).exists(_.contains("broadcast exchange"))))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = StreamingPipeline.start(spark, s"$root/in/*", s"$root/sinks", s"$root/ckpt",
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val mine = jobs.asScala.toSeq.filter(_._1 == q.id.toString)
    val perBatch = mine.groupBy(_._2).map { case (b, js) => b -> js.size }
    info(s"jobs per micro-batch: $perBatch")
    assert(perBatch.keySet == Set(0L, 1L), s"two micro-batches expected: $perBatch")
    assert(mine.count(_._3) == 0, s"micro-batches ran ${mine.count(_._3)} broadcast jobs")
    assert(perBatch.values.forall(_ <= 7), s"jobs per micro-batch: $perBatch")
  }

  test("listener captures per-batch rows/sec metrics (A6, process_source.go:80-138)") {
    val root = "/tmp/graft_metrics_spec"
    Graft.rmTree(root)
    val t = Transcripts.load(spark, tiny)
    t.write.parquet(s"$root/in")
    val (l, drain) = graft.streaming.StreamingMetrics.attach(spark)
    try {
      StreamingPipeline.start(spark, s"$root/in", s"$root/sinks", s"$root/ckpt")
        .awaitTermination()
      // listener delivery is async; poll briefly
      var metrics = drain()
      var waited = 0
      while (metrics.map(_.numInputRows).sum < t.count() && waited < 50) {
        Thread.sleep(100); metrics = drain(); waited += 1
      }
      assert(metrics.nonEmpty, "no StreamingQueryProgress captured")
      assert(metrics.map(_.numInputRows).sum == t.count())
      assert(metrics.exists(_.processedRowsPerSecond > 0))
    } finally spark.streams.removeListener(l)
  }

  test("watermarked windowed aggregation over the stream (ST4, look_back analog)") {
    val root = "/tmp/graft_watermark_spec"
    Graft.rmTree(root)
    Transcripts.load(spark, tiny).write.parquet(s"$root/in")
    val stream = spark.readStream
      .schema(StreamingPipeline.schema).parquet(s"$root/in")
    // event-time watermarks require TIMESTAMP; the transcript ts is NTZ
    // (matching the batch synthesis), so cast for the event-time column —
    // session tz is pinned UTC, making the reinterpretation deterministic
    val agg = stream
      .withColumn("ts_evt", col("ts").cast("timestamp"))
      .withWatermark("ts_evt", "2 hours")
      .groupBy(window(col("ts_evt"), "1 hour"), col("role"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("wm_agg")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append-mode emits only windows closed by the watermark; every
    // emitted count must match the batch groupBy over the same input
    val got = spark.table("wm_agg")
      .select(col("window.start").as("s"), col("role"), col("n"))
    val full = Transcripts.load(spark, tiny)
      .groupBy(date_trunc("hour", col("ts")).as("s"), col("role"))
      .agg(count(lit(1)).as("n"))
    assert(got.count() > 0)
    assert(got.except(full).count() == 0, "streamed window counts must be a subset of batch counts")
  }

  test("streaming sessionization closes sessions in-batch and by watermark timeout") {
    implicit val sp = spark
    val root = "/tmp/graft_sess_stream_spec"
    Graft.rmTree(root)
    Transcripts.load(spark, tiny).write.parquet(s"$root/in")
    val stream = spark.readStream
      .schema(StreamingPipeline.schema).parquet(s"$root/in")
    val out = graft.streaming.SessionizeStream.sessions(stream).toDF()
    val q = out.writeStream.format("memory").queryName("sess_stream")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sess_stream")

    // with a zero-delay watermark, every session whose end + gap is at or
    // before the corpus max ts must have been emitted (in-batch closure for
    // non-final sessions, event-time timeout for final ones); nothing else
    val batch = operators.Sessionize.sessionStats(Transcripts.load(spark, tiny))
      .select(col("conv_id"), col("session_idx"), col("n_turns"),
        col("ts_start").cast("timestamp").as("ts_start"),
        col("ts_end").cast("timestamp").as("ts_end"))
    val maxTs = Transcripts.load(spark, tiny)
      .agg(max(col("ts").cast("timestamp"))).collect()(0).getTimestamp(0)
    val eligible = batch.filter(
      col("ts_end") + expr("INTERVAL 30 MINUTES") <= lit(maxTs))
    assert(got.count() > 0, "stream emitted no sessions")
    assert(got.except(eligible).count() == 0,
      "streamed sessions must match the batch sessionizer exactly")
    assert(eligible.except(got).count() == 0,
      "every watermark-closed session must be emitted")
  }

  test("streaming dedup keeps first arrival per content hash across batches") {
    val root = "/tmp/graft_dedup_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    // two batches with overlap: batch 2 replays doc 1's text and adds new
    Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text").write.parquet(s"$root/in/b1")
    val stream0 = () => spark.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$root/in/*")
    def drain(): Long = {
      val q = graft.streaming.DedupStream.distinctDocs(stream0())
        .writeStream.format("parquet").option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$root/out").count()
    }
    assert(drain() == 2L)
    Seq((3L, "alpha  BETA"), (4L, "epsilon zeta")) // 3 normalizes to doc 1's text
      .toDF("doc_id", "text").write.parquet(s"$root/in/b2")
    assert(drain() == 3L) // only doc 4 is new; the replayed content is suppressed
    val kept = spark.read.parquet(s"$root/out").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L))
  }

  test("streaming snapshot maintenance: foreachBatch upsert converges to " +
    "the batch merge across micro-batches") {
    val root = "/tmp/graft_snapshot_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    val schema = "conv_id STRING, turn_idx INT, text STRING, src_offset LONG"
    def drain(): Unit = {
      val changes = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.SnapshotStream.start(changes,
        s"$root/snap", s"$root/ckpt",
        Seq("conv_id", "turn_idx"), Seq("src_offset"))
      q.awaitTermination()
    }
    Seq(("k1", 1, "v1", 10L), ("k2", 1, "v1", 10L))
      .toDF("conv_id", "turn_idx", "text", "src_offset")
      .write.parquet(s"$root/in/b1")
    drain()
    val s1 = graft.streaming.SnapshotStream.snapshot(spark, s"$root/snap").get
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(s1 == Map("k1" -> "v1", "k2" -> "v1"))
    // batch 2: update k1, out-of-order stale k2, insert k3
    Seq(("k1", 1, "v2", 20L), ("k2", 1, "stale", 5L), ("k3", 1, "v1", 15L))
      .toDF("conv_id", "turn_idx", "text", "src_offset")
      .write.parquet(s"$root/in/b2")
    drain()
    val s2 = graft.streaming.SnapshotStream.snapshot(spark, s"$root/snap").get
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(s2 == Map("k1" -> "v2", "k2" -> "v1", "k3" -> "v1"))
    // parity: the streamed snapshot equals the one-shot batch upsert of
    // all changes over an empty base
    val all = spark.read.schema(schema).parquet(s"$root/in/*")
    val batchMerged = operators.Incremental.upsert(
      all.limit(0), all, Seq("conv_id", "turn_idx"), Seq("src_offset"))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(s2 == batchMerged)
  }

  test("streaming CMS counters: history estimate sees prior batches, " +
    "accumulated table equals the one-shot build") {
    val root = "/tmp/graft_cms_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    def drain(): Unit = {
      val stream = spark.readStream.schema("text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.CmsStream.start(
        stream, s"$root/state", s"$root/ckpt")
      q.awaitTermination()
    }
    // batch 1: the "error N occurred" template twice, one other template
    Seq("error 123 occurred", "error 999 occurred", "all good here")
      .toDF("text").coalesce(1).write.parquet(s"$root/in/b1")
    drain()
    val tkeyOf = (t: String) => Seq(t).toDF("text")
      .select(operators.Sketches.templateKey(col("text"))).collect()(0).getString(0)
    val errKey = tkeyOf("error 1 occurred")
    val e1 = spark.read.parquet(s"$root/state/estimates")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(e1(errKey) == ((2L, 0L))) // first batch probes EMPTY history
    // batch 2: same template again + a novel one
    Seq("error 7 occurred", "novel text entirely").toDF("text")
      .coalesce(1).write.parquet(s"$root/in/b2")
    drain()
    val e2 = spark.read.parquet(s"$root/state/estimates")
      .filter(col("batch_id") === 1).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(e2(errKey) == ((1L, 2L))) // history = batch 1's two instances
    assert(e2(tkeyOf("novel text entirely"))._2 == 0L)
    // mergeability: the accumulated counter table == one-shot build
    val streamed = graft.streaming.CmsStream.counterTable(spark, s"$root/state")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneShot = operators.Sketches.cmsCounterTable(
      spark.read.parquet(s"$root/in/*")
        .select(operators.Sketches.templateKey(col("text")).as("tkey")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == oneShot)
  }

  test("streaming HLL distinct: est_before sees prior batches only; " +
    "accumulated registers equal the one-shot sketch") {
    val root = "/tmp/graft_hll_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    def drain(): Unit = {
      val stream = spark.readStream.schema("name STRING, conv_id STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.HllStream.start(
        stream, s"$root/state", s"$root/ckpt")
      q.awaitTermination()
    }
    def sketchOf(rows: Seq[(String, String)]): Long =
      operators.Sketches.hllEstimate(
        operators.Sketches.hllRegs(rows.toDF("name", "conv_id")))
        .collect()(0).getAs[Long]("hll_est")
    val b1 = (1 to 200).map(i => ("x", f"conv_$i%06d"))
    b1.toDF("name", "conv_id").coalesce(1).write.parquet(s"$root/in/b1")
    drain()
    val e1 = spark.read.parquet(s"$root/state/estimates")
      .filter(col("batch_id") === 0).collect()(0)
    assert(e1.getAs[Long]("est_before") == 0L)   // empty history
    assert(e1.getAs[Long]("est_after") == sketchOf(b1))
    // batch 2: 50 replayed + 250 novel keys — before == batch-1 estimate,
    // after == the sketch of the concatenation (max-merge mergeability)
    val b2 = (151 to 450).map(i => ("x", f"conv_$i%06d"))
    b2.toDF("name", "conv_id").coalesce(1).write.parquet(s"$root/in/b2")
    drain()
    val e2 = spark.read.parquet(s"$root/state/estimates")
      .filter(col("batch_id") === 1).collect()(0)
    assert(e2.getAs[Long]("est_before") == sketchOf(b1))
    assert(e2.getAs[Long]("est_after") == sketchOf(b1 ++ b2))
    val streamed = graft.streaming.HllStream.regTable(spark, s"$root/state")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneShot = operators.Sketches.hllRegs((b1 ++ b2).toDF("name", "conv_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == oneShot)
  }

  test("streaming seasonal anomaly: per-hod baseline across batches == " +
    "the one-shot seasonal operator on the concatenation") {
    val root = "/tmp/graft_seasonal_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    def ts(d: Int, h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-0$d $h%02d:$m%02d:00")
    def drain(): Unit = {
      val stream = spark.readStream.schema("name STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.AnomalyStream.start(
        stream, s"$root/state", s"$root/ckpt", seasonal = true)
      q.awaitTermination()
    }
    // batch 1 = days 1..4 of the diurnal pattern: hod 3 quiet (10),
    // hod 15 busy (100)
    val b1 = (1 to 4).flatMap(d =>
      (0 until 10).map(m => ("e", ts(d, 3, m))) ++
        (0 until 100).map(m => ("e", ts(d, 15, m % 60))))
    b1.toDF("name", "ts").coalesce(1).write.parquet(s"$root/in/b1")
    drain()
    // batch 2 = day 5: hod 3 SPIKES to 100 (seasonal outlier), hod 15
    // stays at its normal 100
    val b2 = (0 until 100).map(m => ("e", ts(5, 3, m % 60))) ++
      (0 until 100).map(m => ("e", ts(5, 15, m % 60)))
    b2.toDF("name", "ts").coalesce(1).write.parquet(s"$root/in/b2")
    drain()
    val f2 = spark.read.parquet(s"$root/state/flags")
      .filter(col("batch_id") === 1).select("hod", "n", "is_outlier")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(f2.size == 2)
    assert(f2(3L) == ((100L, true)), "the 3 a.m. spike flags against its hod history")
    assert(f2(15L) == ((100L, false)), "the same count at 3 p.m. is normal")
    // parity: flags == the one-shot seasonal operator on b1 ++ b2
    val oneShot = graft.operators.Aggregates.seasonalAnomalyFromHourly(
      graft.operators.Aggregates.hourlyCounts((b1 ++ b2).toDF("name", "ts")))
      .filter(col("hour") >= ts(5, 0, 0)).select("hod", "n", "is_outlier")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(oneShot == f2)
  }

  test("streaming robust anomaly: batch cells judged against the ALL-" +
    "history baseline; accumulated table equals the one-shot hourly agg") {
    val root = "/tmp/graft_anomaly_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    val ts = (h: Int, m: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def drain(): Unit = {
      val stream = spark.readStream.schema("name STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.AnomalyStream.start(
        stream, s"$root/state", s"$root/ckpt")
      q.awaitTermination()
    }
    // batch 1: 12 quiet hours at 10 events
    val b1 = (0 to 11).flatMap(h => (0 until 10).map(m => ("e", ts(h, m))))
    b1.toDF("name", "ts").coalesce(1).write.parquet(s"$root/in/b1")
    drain()
    val f1 = spark.read.parquet(s"$root/state/flags")
      .filter(col("batch_id") === 0).collect()
    assert(f1.length == 12 && f1.forall(!_.getBoolean(6)))   // all quiet
    // batch 2: 6 storm hours at 100 + 5 extra events into quiet hour 11
    // (the sum-fold case: the cell must total 15, not reset to 5)
    val b2 = (12 to 17).flatMap(h => (0 until 100).map(m => ("e", ts(h, m % 60)))) ++
      (0 until 5).map(m => ("e", ts(11, 30 + m)))
    b2.toDF("name", "ts").coalesce(1).write.parquet(s"$root/in/b2")
    drain()
    val f2 = spark.read.parquet(s"$root/state/flags")
      .filter(col("batch_id") === 1).collect()
      .map(r => r.getTimestamp(1).toString -> r).toMap
    assert(f2.size == 7)                                     // 6 storm + h11
    assert(f2("2024-01-01 11:00:00.0").getLong(2) == 15L)    // summed cell
    assert(f2.values.count(_.getLong(2) == 100L) == 6)
    // flags == the BATCH operator over the concatenation, on b2's cells
    val oneShotHourly = operators.Aggregates.hourlyCounts(
      (b1 ++ b2).toDF("name", "ts"))
    val expect = operators.Aggregates.robustAnomalyFromHourly(oneShotHourly)
      .collect().map(r => r.getTimestamp(1).toString ->
        (r.getLong(2), r.getLong(5), r.getBoolean(6))).toMap
    f2.foreach { case (hour, r) =>
      assert(expect(hour) == ((r.getLong(2), r.getLong(5), r.getBoolean(6))))
    }
    // accumulated state == the one-shot hourly aggregate
    val streamed = graft.streaming.AnomalyStream
      .hourlyTable(spark, s"$root/state").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString) -> r.getLong(2)).toMap
    val oneShot = oneShotHourly.collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString) -> r.getLong(2)).toMap
    assert(streamed == oneShot)
  }

  test("streaming Bloom prefilter: replayed content flags on the NEXT " +
    "batch, and the accumulated table equals the one-shot build") {
    val root = "/tmp/graft_bloom_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    val text1 = (1 to 30).map(i => s"alpha$i beta$i").mkString(" ")
    val text2 = (1 to 30).map(i => s"gamma$i delta$i").mkString(" ")
    def drain(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.BloomStream.start(
        stream, s"$root/state", s"$root/ckpt")
      q.awaitTermination()
    }
    Seq((1L, text1), (2L, text2)).toDF("doc_id", "text")
      .write.parquet(s"$root/in/b1")
    drain()
    val v1 = spark.read.parquet(s"$root/state/verdicts")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // first batch probes an EMPTY filter: nothing can flag
    assert(v1 == Map(1L -> false, 2L -> false))
    // batch 2: doc 3 replays doc 1's text; doc 4 is novel
    Seq((3L, text1), (4L, "zeta eta theta iota kappa lambda"))
      .toDF("doc_id", "text").write.parquet(s"$root/in/b2")
    drain()
    val v2 = spark.read.parquet(s"$root/state/verdicts")
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(v2(3L), "replayed content must flag against the accumulated filter")
    assert(!v2(4L), "novel content must pass (no FP at this fill)")
    // mergeability across batches: the streamed table == one-shot build
    val streamed = graft.streaming.BloomStream
      .wordTable(spark, s"$root/state")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = operators.Sketches.bloomWordTable(
      spark.read.parquet(s"$root/in/*").select(
        explode(array_distinct(dedup.Dedup.shingleHashes(col("text"))))
          .as("sh")).select(col("sh").cast("string").as("key")),
      "key").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == oneShot,
      "accumulated word table must equal the batch build over all docs")
  }

  test("stateful sampler emits first event per name per hour across batches") {
    import TestSpark.spark.implicits._
    implicit val sp = spark
    val input = Pipeline.parsed(spark, tiny)
      .select("name", "ts", "conv_id", "turn_idx")
    // run through flatMapGroupsWithState via a memory-source streaming query
    val root = "/tmp/graft_sampler_spec"
    Graft.rmTree(root)
    input.write.parquet(s"$root/in")
    val stream = spark.readStream
      .schema(input.schema).parquet(s"$root/in")
    val out = StreamingPipeline.sampled(
      stream.withColumn("name", col("name"))).toDF()
    val q = out.writeStream.format("memory").queryName("sampled")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("sampled")
    // batch sampler oracle over the same input
    val expected = graft.operators.Aggregates.sampler(Pipeline.parsed(spark, tiny))
      .select(col("name"), col("conv_id"), col("turn_idx"))
    // streaming state is per-name monotone-hour; with a single batch the
    // semantics coincide with the batch sampler
    assert(got.select("name", "conv_id", "turn_idx").except(expected).count() == 0)
    assert(expected.except(got.select("name", "conv_id", "turn_idx")).count() == 0)
  }

  test("stream-stream tool-latency join equals the batch lead-window form") {
    val root = "/tmp/graft_latency_spec"
    Graft.rmTree(root)
    val t = Transcripts.load(spark, tiny)
      .select("conv_id", "turn_idx", "role", "ts")
    t.write.parquet(s"$root/in")
    val stream = spark.readStream.schema(t.schema).parquet(s"$root/in")
    val out = graft.streaming.LatencyStream.toolLatencyStream(stream)
    val q = out.writeStream.format("memory").queryName("tool_latency")
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("tool_latency")
    val expected = graft.streaming.LatencyStream.toolLatencyBatch(
      Transcripts.load(spark, tiny))
    assert(got.count() > 0, "no latency pairs emitted")
    assert(got.except(expected).count() == 0 &&
      expected.except(got).count() == 0,
      "streamed join must equal the batch lead-window result")
  }

  test("streaming near-dup index: exact copies and light edits flag against " +
    "history; the accumulated index equals the one-shot build") {
    val root = "/tmp/graft_neardup_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    val textA = (1 to 40).map(i => s"alpha$i beta$i").mkString(" ")
    val textB = (1 to 40).map(i => s"gamma$i delta$i").mkString(" ")
    // light edit of A: change one word near the middle -> most shingles,
    // and therefore most minhashes, survive
    val textAEdit = textA.replace("alpha20", "ALPHA20X")
    def drain(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.NearDupStream.start(
        stream, s"$root/state", s"$root/ckpt")
      q.awaitTermination()
    }
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
      .write.parquet(s"$root/in/b1")
    drain()
    val v1 = spark.read.parquet(s"$root/state/verdicts")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v1 == Map(1L -> "new", 2L -> "new"), "empty index: everything new")
    // batch 2: exact replay of A, light edit of A, novel C
    Seq((3L, textA), (4L, textAEdit),
        (5L, "zeta eta theta iota kappa lambda mu nu xi omicron"))
      .toDF("doc_id", "text").write.parquet(s"$root/in/b2")
    drain()
    val v2 = spark.read.parquet(s"$root/state/verdicts")
      .filter(col("batch_id") > 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v2(3L) == "exact_dup", "exact replay must match the content key")
    assert(v2(4L) == "near_dup",
      "light edit must band-collide and agree on most minhashes")
    assert(v2(5L) == "new")
    // the folded index equals the one-shot build over every ingested doc
    val streamed = graft.streaming.NearDupStream
      .indexTable(spark, s"$root/state")
      .collect().map(_.toSeq).toSet
    val oneShot = graft.streaming.NearDupStream
      .indexRows(spark.read.parquet(s"$root/in/*"))
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot,
      "accumulated sketch index must equal the batch build over all docs")
  }

  test("streaming gap moments: boundary gap stitched across batches; " +
    "profile and accumulated state equal the one-shot operator") {
    val root = "/tmp/graft_gap_stream_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    val ts = (h: Int, m: Int, s: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:$s%02d")
    def drain(): Unit = {
      val stream = spark.readStream
        .schema("name STRING, ts TIMESTAMP, conv_id STRING, turn_idx BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      val q = graft.streaming.GapStream.start(
        stream, s"$root/state", s"$root/ckpt")
      q.awaitTermination()
    }
    // batch 1: one cell (e, hour 0) with gaps 10 s, 20 s
    val b1 = Seq(("e", ts(0, 0, 0), "c", 0L), ("e", ts(0, 0, 10), "c", 1L),
      ("e", ts(0, 0, 30), "c", 2L))
    b1.toDF("name", "ts", "conv_id", "turn_idx").coalesce(1)
      .write.parquet(s"$root/in/b1")
    drain()
    // batch 2 extends the SAME cell monotonically (boundary gap 15 s
    // + one internal 15 s gap) and opens a new cell in hour 1
    val b2 = Seq(("e", ts(0, 0, 45), "c", 3L), ("e", ts(0, 1, 0), "c", 4L),
      ("e", ts(1, 0, 0), "c", 5L))
    b2.toDF("name", "ts", "conv_id", "turn_idx").coalesce(1)
      .write.parquet(s"$root/in/b2")
    drain()
    val streamed = spark.read.parquet(s"$root/state/fano")
      .filter(col("batch_id") === 1)
      .select("name", "n_gaps", "mean_gap_us", "max_gap_us", "fano_x1e3")
      .collect().map(_.toSeq).toSet
    val oneShot = graft.operators.Aggregates.interArrival(
      (b1 ++ b2).toDF("name", "ts", "conv_id", "turn_idx"))
      .collect().map(_.toSeq).toSet
    assert(streamed == oneShot,
      s"streamed profile must equal the batch operator: $streamed vs $oneShot")
    // the hour-0 cell really stitched: 2 + 1 internal + 1 boundary = 4 gaps
    val acc = graft.streaming.GapStream.momentsTable(spark, s"$root/state")
      .collect().map(r => r.getTimestamp(1).toString -> r.getLong(2)).toMap
    assert(acc("2024-01-01 00:00:00.0") == 4L)
    assert(acc("2024-01-01 01:00:00.0") == 0L, "lone event anchors, no gap")
    // accumulated moments equal the one-shot reduction
    val accFull = graft.streaming.GapStream.momentsTable(spark, s"$root/state")
      .collect().map(_.toSeq).toSet
    val oneShotMoments = graft.operators.Aggregates.gapMoments(
      (b1 ++ b2).toDF("name", "ts", "conv_id", "turn_idx"))
      .collect().map(_.toSeq).toSet
    assert(accFull == oneShotMoments,
      s"accumulated moments must equal the one-shot reduction")
  }

  /** Drop the checkpoint's last `commits/<n>` entry, so a restart re-runs
    * batch n as if the driver died after the fold's commit but before
    * Spark's; returns n. */
  private def dropLastCommit(ckpt: String): Long = {
    val n = new java.io.File(s"$ckpt/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(Paths.get(s"$ckpt/commits/$n"))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.$n.crc"))
    n
  }

  test("stream fold: a failing output write leaves no frame of the fold " +
    "in the session's cache") {
    val root = "/tmp/graft_fold_cache_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    Seq("error 123 occurred", "all good here").toDF("text")
      .coalesce(1).write.parquet(s"$root/in/b1")
    // a plain file where the estimates directory must go
    Files.createDirectories(Paths.get(s"$root/state"))
    Files.writeString(Paths.get(s"$root/state/estimates"), "blocker")
    spark.catalog.clearCache() // what earlier suites left is not this fold's
    val stream = spark.readStream.schema("text STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
    val q = graft.streaming.CmsStream.start(stream, s"$root/state", s"$root/ckpt")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed batch's persisted frames must be released")
    assert(graft.streaming.FoldState.current(s"$root/state").isEmpty,
      "a failed batch must not move the pointer")
  }

  test("stream fold: the CURRENT pointer only ever names a state directory " +
    "while a drain flips it, and no temp file remains") {
    val root = "/tmp/graft_fold_pointer_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    (0 until 8).foreach { i =>
      Seq(s"error $i occurred", s"batch $i text").toDF("text")
        .coalesce(1).write.parquet(s"$root/in/b$i")
    }
    val state = s"$root/state"
    val allowed = Set(s"$state/state_0", s"$state/state_1")
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!done.get()) {
        val v = scala.util.Try(graft.streaming.FoldState.current(state))
        v.foreach(_.foreach(seen.add))
        if (v.isFailure) seen.add(s"<${v.failed.get}>")
        Thread.onSpinWait()
      })
    poller.start()
    try {
      val stream = spark.readStream.schema("text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      graft.streaming.CmsStream.start(stream, state, s"$root/ckpt")
        .awaitTermination()
    } finally {
      done.set(true)
      poller.join()
    }
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == allowed,
      s"the poller read a value that names no state directory: $seen")
    assert(graft.streaming.FoldState.current(state).contains(s"$state/state_1"))
    val left = new java.io.File(state).list().toSet
    assert(left == Set("CURRENT", "state_0", "state_1", "estimates"),
      s"unexpected files beside the pointer: $left")
  }

  test("stream fold replay: CmsStream skips a batch re-run after its state " +
    "commit; counters and estimates stay exactly-once") {
    val root = "/tmp/graft_cms_replay_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    def drain(): Unit = {
      val stream = spark.readStream.schema("text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      graft.streaming.CmsStream.start(stream, s"$root/state", s"$root/ckpt")
        .awaitTermination()
    }
    Seq("error 123 occurred", "error 999 occurred", "all good here")
      .toDF("text").coalesce(1).write.parquet(s"$root/in/b1")
    Seq("error 7 occurred", "novel text entirely").toDF("text")
      .coalesce(1).write.parquet(s"$root/in/b2")
    drain()
    def estimates(n: Long) = spark.read.parquet(s"$root/state/estimates")
      .filter(col("batch_id") === n).collect().map(_.toSeq).toSeq
    val n = dropLastCommit(s"$root/ckpt")
    assert(n == 1L)
    val once = estimates(n)
    assert(once.size == 2, s"batch $n has two distinct templates: $once")
    drain()
    assert(Files.exists(Paths.get(s"$root/ckpt/commits/$n")),
      s"the restart must have re-run batch $n")
    val streamed = graft.streaming.CmsStream.counterTable(spark, s"$root/state")
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val oneShot = operators.Sketches.cmsCounterTable(
      spark.read.parquet(s"$root/in/*")
        .select(operators.Sketches.templateKey(col("text")).as("tkey")))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == oneShot, "the replayed batch must not be counted twice")
    assert(estimates(n).sortBy(_.toString) == once.sortBy(_.toString),
      s"batch $n's estimates must be written exactly once")
  }

  test("stream fold replay: NearDupStream skips a batch re-run after its " +
    "state commit; the appended index and verdicts stay exactly-once") {
    val root = "/tmp/graft_neardup_replay_spec"
    Graft.rmTree(root)
    import TestSpark.spark.implicits._
    val textA = (1 to 40).map(i => s"alpha$i beta$i").mkString(" ")
    def drain(): Unit = {
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$root/in/*")
      graft.streaming.NearDupStream.start(stream, s"$root/state", s"$root/ckpt")
        .awaitTermination()
    }
    Seq((1L, textA), (2L, "gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$root/in/b1")
    Seq((3L, textA), (4L, "lambda mu nu xi omicron pi rho sigma tau"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$root/in/b2")
    drain()
    val n = dropLastCommit(s"$root/ckpt")
    assert(n == 1L)
    drain()
    assert(Files.exists(Paths.get(s"$root/ckpt/commits/$n")),
      s"the restart must have re-run batch $n")
    val streamed = graft.streaming.NearDupStream
      .indexTable(spark, s"$root/state").collect().map(_.toSeq).toSeq
    val oneShot = graft.streaming.NearDupStream
      .indexRows(spark.read.parquet(s"$root/in/*")).collect().map(_.toSeq).toSeq
    assert(streamed.sortBy(_.toString) == oneShot.sortBy(_.toString),
      "the replayed batch's index rows must be appended exactly once")
    val verdicts = spark.read.parquet(s"$root/state/verdicts")
      .filter(col("batch_id") === n).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(verdicts.sorted == Seq(3L -> "exact_dup", 4L -> "new"),
      s"batch $n's verdicts must be written exactly once: $verdicts")
  }
}
