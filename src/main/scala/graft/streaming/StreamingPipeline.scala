package graft.streaming

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.Pipeline
import graft.sinks.Sinks

/** Structured Streaming variant of the pipeline — the analog of the
  * reference's polling service loop (`pkg/app/program.go:140-276`):
  *
  *  - source: file stream over a transcript parquet directory; new files
  *    are the analog of new XE file-target reads (S1). Checkpoint offsets
  *    replace the `(file, offset, status)` state files (ST2,
  *    `pkg/status/status.go:273-363`) — resumable, at-least-once into the
  *    sinks exactly like the reference (sink write precedes state commit).
  *  - transforms: the SAME column pipeline as batch (Pipeline.transform),
  *    planned once per query: its sink frame and quarantine are analysed
  *    over a placeholder of the source's schema (`Sinks.SinkPlan`) and each
  *    micro-batch's rows are bound in the placeholder's place, in the
  *    session passed to [[start]], so a micro-batch plans only its own
  *    rows and a new query's jobs reuse the code earlier queries
  *    generated. Its constant lookups are expressions, so a micro-batch
  *    runs no broadcast job.
  *  - sinks: `Sinks.write`, as in batch: the per-conversation ordering
  *    sort (W1), then ONE job whose tasks write the K1/K2/K3 NDJSON lines
  *    into `<outRoot>/_staging/batch=<id>` and return the files they
  *    wrote and the per-batch lineage rows `(src_file, offset range,
  *    count, batch_id)` (A7/E11); the listed files are published into the
  *    sink directories by rename and the driver writes the lineage — 2
  *    Spark jobs per micro-batch. A failed staged write, sink
  *    publish or lineage append is retried alone (ST8).
  *
  * [[start]] is the one entry point: `graft.Main stream`, the q50/q299/q301
  * drains and the reliability checks (ST5 checkpoint integrity, ST6 config
  * reload, ST8 sink retry) all run the same micro-batch body.
  */
object StreamingPipeline {

  /** Input schema: canonical transcript shape + lineage provenance. */
  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    // NTZ: the batch synthesis yields TIMESTAMP_NTZ from parquet, and the
    // serialized @timestamp must be byte-identical between batch and
    // stream (StreamingSpec multiset test caught TimestampType's 'Z')
    StructField("tool", StringType), StructField("ts", TimestampNTZType),
    StructField("src_file", StringType), StructField("src_offset", LongType)))

  /** Prepares the session (`Graft.prep`) and returns the file-stream
    * source over `inputDir`, with real per-file lineage from the source
    * itself (E11 analog). */
  private def source(spark: SparkSession, inputDir: String,
                     maxFilesPerTrigger: Option[Int]): DataFrame = {
    graft.Graft.prep(spark)
    val reader = spark.readStream.schema(schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inputDir)
      .withColumn("src_file", regexp_extract(input_file_name(), "([^/]+)$", 1))
  }

  /** Trigger interval of a polling (`availableNow = false`) run. */
  private val PollInterval = "5 seconds"

  /** Start the streaming pipeline: inputDir → sinks under outRoot, with
    * checkpoint. availableNow=true drains what exists then stops (the
    * one-shot `xelogstash` mode, cmd/xelogstash/main_app.go:41); false
    * polls every [[PollInterval]] like the sqlxewriter service loop.
    * The reliability surfaces (SURVEY §2.11) are part of every run:
    *
    *  - ST5: an EXISTING checkpoint is integrity-checked before resuming;
    *    damaged state (zeroed/truncated metadata, batch-id gaps) refuses to
    *    start instead of silently replaying from a corrupt cursor.
    *  - ST6: an optional [[Reliability.ConfigReloader]] is polled at the
    *    start of each micro-batch; a debounced reload swaps the
    *    config-driven event blacklist + filter rule chain applied to the
    *    batch by rebuilding the query's sink plan, the only time it is
    *    rebuilt — the restartless analog of the reference's fsnotify
    *    reload.
    *  - ST8: [[Sinks.write]]'s staged write, each sink's publish and
    *    the lineage append are each tried up to 5 times with exponential
    *    backoff from 1 s; a retry repeats only the step that failed, and a
    *    stop is not retried.
    *
    * ST7 (graceful stop) is [[Reliability.stopGracefully]] on the returned
    * query; ST9 (single instance) is enforced by Spark per checkpoint and
    * can be made explicit with [[Reliability.withInstanceLock]] around the
    * whole run. */
  def start(spark: SparkSession, inputDir: String, outRoot: String,
            checkpointDir: String, availableNow: Boolean = true,
            maxFilesPerTrigger: Option[Int] = None,
            quarantineDir: Option[String] = None,
            reloader: Option[Reliability.ConfigReloader] = None): StreamingQuery = {
    if (Files.exists(Paths.get(checkpointDir, "offsets")))
      Reliability.checkpointIntegrity(checkpointDir).swap.foreach(msg =>
        throw new IllegalStateException(s"refusing to resume: $msg"))

    val in = source(spark, inputDir, maxFilesPerTrigger)
    def sinkPlan(cfg: Option[graft.sources.ConfigSource.JobConfig]) =
      new Sinks.SinkPlan(spark, in.schema)({ rows =>
        val base = Pipeline.transform(rows, spark)
        cfg.fold(base)(c => base.filter(graft.operators.Filters.excludeEvents(c.excludedEvents) &&
          graft.operators.Filters.filterChain(c.rules)))
      })
    var plan = sinkPlan(reloader.map(_.current))
    in.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // dead-letter quarantine (the rows F7 drops), written per batch
        // BEFORE the happy path so a sink failure can't lose them; the
        // batch=<id> dir overwrite keeps replays effectively-once
        quarantineDir.foreach { qd =>
          plan.quarantine(batch).write.mode("overwrite").parquet(s"$qd/batch=$batchId")
        }
        reloader.foreach(_.poll().foreach(cfg => plan = sinkPlan(Some(cfg))))
        Sinks.write(plan.bind(batch), outRoot, batchId, maxAttempts = 5)
        ()
      }
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(PollInterval))
      .start()
  }

  // ---- stateful sampler (A8 via flatMapGroupsWithState) ---------------------
  final case class SampleKey(name: String)
  final case class SampleEvent(name: String, ts: java.sql.Timestamp,
    conv_id: String, turn_idx: Int)
  final case class SampleState(lastBucket: Long)

  /** Streaming sampler: emit the first event per event-name per hour bucket
    * across micro-batches — keyed state replaces the reference's
    * `map[eventName]lastWritten` (`pkg/sink/sampler/sampler.go:51-89`). */
  def samplerFlatMap(
      name: String, it: Iterator[SampleEvent],
      state: GroupState[SampleState]): Iterator[SampleEvent] = {
    val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.conv_id, e.turn_idx))
    var last = state.getOption.map(_.lastBucket).getOrElse(Long.MinValue)
    val out = scala.collection.mutable.ArrayBuffer[SampleEvent]()
    sorted.foreach { e =>
      val bucket = e.ts.getTime / 3600000L
      if (bucket > last) { out += e; last = bucket }
    }
    if (last != Long.MinValue) state.update(SampleState(last))
    out.iterator
  }

  /** Attach the stateful sampler to a parsed stream. */
  def sampled(parsedStream: DataFrame)(implicit spark: SparkSession) = {
    import spark.implicits._
    parsedStream
      .select(col("name"), col("ts"), col("conv_id"), col("turn_idx"))
      .as[SampleEvent]
      .groupByKey(_.name)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(samplerFlatMap)
  }
}
