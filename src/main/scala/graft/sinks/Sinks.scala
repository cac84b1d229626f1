package graft.sinks

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The three sink shapes of the reference, re-expressed as partitioned
  * NDJSON writers (`Sinker` contract, `pkg/sink/sink.go:10-19`):
  *
  *  - file sink: hourly-partitioned NDJSON (rotator analog,
  *    `pkg/sink/rotator.go:58-212`) — `date_hour=YYYYMMDD_HH` partitions
  *    instead of file renames; retention = partition directory drop.
  *  - logstash sink: flat NDJSON stream (TCP framing analog,
  *    `pkg/logstash/logstash.go:127-265`).
  *  - elastic sink: bulk pairs partitioned by `_index` routing
  *    (`pkg/sink/sink_elastic.go:113-145`).
  *
  * The reference writes serially to each sink per event (README.md:455,
  * "performance isn't that great"); here [[writeAll]] orders the routed
  * batch by conversation and turn, caches only the five columns the sinks
  * read ([[SinkColumns]]) and writes each sink as a column projection +
  * partitioned write of that one cached frame.
  */
object Sinks {

  /** The columns [[writeAll]]'s sinks and lineage rows read. */
  val SinkColumns: Seq[String] = Seq("ts", "doc_json", "sink_index", "src_file", "src_offset")

  /** K1: hourly-partitioned NDJSON file sink. */
  def writeFile(routed: DataFrame, dir: String): Unit =
    hourly(routed).write.mode("append").partitionBy("date_hour").text(dir)

  /** The file sink's rows: `doc_json` keyed by its event hour. */
  private def hourly(routed: DataFrame): DataFrame =
    routed
      .withColumn("date_hour", date_format(col("ts"), "yyyyMMdd_HH"))
      .select("date_hour", "doc_json")

  /** K2: logstash-shaped NDJSON (single stream, newline framed). */
  def writeLogstash(routed: DataFrame, dir: String): Unit =
    routed.select("doc_json").write.mode("append").text(dir)

  /** K3: elastic bulk framing partitioned by routed index. */
  def writeElastic(routed: DataFrame, dir: String): Unit =
    graft.operators.Routing.bulkFrame(routed)
      .select("sink_index", "bulk")
      .write.mode("append").partitionBy("sink_index").text(dir)

  /** K1 retention: drop hour partitions older than retainHours relative to
    * the max hour present (deterministic, data-time based — the rotator
    * deletes by wall clock, `pkg/sink/rotator.go:159-212`). */
  def applyRetention(spark: SparkSession, dir: String, retainHours: Int): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return Nil
    val parts = Using.resource(Files.list(p))(_.iterator().asScala.toSeq
      .map(_.getFileName.toString).filter(_.startsWith("date_hour="))
      .sorted)
    if (parts.isEmpty) return Nil
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HH")
    def hourOf(s: String) =
      java.time.LocalDateTime.parse(s.stripPrefix("date_hour="), fmt)
    val maxHour = hourOf(parts.last)
    val dropped = parts.filter(part =>
      hourOf(part).isBefore(maxHour.minusHours(retainHours.toLong)))
    dropped.foreach { part =>
      Using.resource(Files.walk(p.resolve(part)))(
        _.iterator().asScala.toSeq.reverse.foreach(Files.delete))
    }
    dropped
  }

  /** W1 + the sink frame: each conversation co-located in one partition
    * and ordered by turn within it, projected to [[SinkColumns]]. Column
    * pruning keeps every other routed column out of the ordering exchange
    * (and out of the cache [[writeAll]] puts on this frame). */
  private[graft] def sinkFrame(routed: DataFrame): DataFrame =
    routed.repartition(col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .select(SinkColumns.map(col): _*)

  /** Write all sinks from one cached [[sinkFrame]] of the routed batch;
    * this is the one place of the W1 turn ordering. Lineage rows per
    * source file are appended to `root/lineage` (ST2/A7: sink write
    * precedes lineage commit = at-least-once, like the reference's
    * sink-then-state order, process_session.go:145-162). */
  def writeAll(routed: DataFrame, root: String, batchId: Long = 0L): Unit = {
    val cached = sinkFrame(routed).persist()
    try {
      writeFile(cached, s"$root/file")
      writeLogstash(cached, s"$root/logstash")
      writeElastic(cached, s"$root/elastic")
      cached.groupBy("src_file")
        .agg(min("src_offset").as("min_offset"), max("src_offset").as("max_offset"),
          count(lit(1)).as("n_events"))
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(s"$root/lineage")
    } finally cached.unpersist()
  }

  /** A1/A2 as observe() metrics: events-written count + byte totals
    * riding on the sink action itself — the expvar/prom counter analog
    * (`pkg/app/expvar.go`; `pkg/prom/prom.go:11-41`) with zero extra
    * passes over the data. */
  def writeFileObserved(routed: DataFrame, dir: String): (Long, Long) = {
    val obs = org.apache.spark.sql.Observation()
    hourly(routed)
      .observe(obs, count(lit(1)).as("n_routed"),
        sum(length(col("doc_json"))).as("bytes"))
      .write.mode("append").partitionBy("date_hour").text(dir)
    val row = obs.get
    (row("n_routed").asInstanceOf[Long],
      row.get("bytes").map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  /** Recompute per-sink counts from the sink ARTIFACTS on disk — the
    * verification path for routed-row equality (north rule). */
  def countsFromDisk(spark: SparkSession, root: String): DataFrame = {
    val file = spark.read.text(s"$root/file")
      .select(get_json_object(col("value"), "$.name").as("route_key"))
      .groupBy("route_key").agg(count(lit(1)).as("n"))
      .select(lit("file").as("sink"), col("route_key"), col("n"))
    val logstash = spark.read.text(s"$root/logstash")
      .select(get_json_object(col("value"), "$.name").as("route_key"))
      .groupBy("route_key").agg(count(lit(1)).as("n"))
      .select(lit("logstash").as("sink"), col("route_key"), col("n"))
    // bulk files: 2 lines per doc; count only the action lines
    val elastic = spark.read.format("text")
      .option("basePath", s"$root/elastic").load(s"$root/elastic")
      .filter(col("value").startsWith("{\"index\":"))
      .select(get_json_object(col("value"), "$.index._index").as("route_key"))
      .groupBy("route_key").agg(count(lit(1)).as("n"))
      .select(lit("elastic").as("sink"), col("route_key"), col("n"))
    file.unionByName(logstash).unionByName(elastic)
  }

  /** Compaction PLAN for the hourly-partitioned file sink — the
    * small-files control every rotating-sink pipeline needs at scale: per
    * (event name, hour) partition, the event volume and how many files a
    * `targetChars`-sized writer should emit (`ceil(chars / target)`, at
    * least one), plus rows per file. Pure aggregate over the parsed event
    * name — one hash-agg exchange; the planner output (one row per
    * partition-hour) then drives `repartition(n_files)` at write time. */
  def compactionPlan(transcripts: DataFrame, targetChars: Long = 1L << 20): DataFrame =
    transcripts
      .select(regexp_extract(col("text"), "^event=([a-z_0-9]+)", 1).as("name"),
        date_trunc("hour", col("ts")).as("hour"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("name", "hour")
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("n_files",
        greatest(lit(1L), ceil(col("sum_chars") / lit(targetChars.toDouble)).cast("long")))
      .withColumn("rows_per_file",
        ceil(col("n_rows") / col("n_files").cast("double")).cast("long"))
}
