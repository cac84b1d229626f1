package graft.sinks

import java.io.IOException
import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Routing

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
  * batch by conversation and turn and writes every sink line in ONE
  * partitioned text write into a batch-scoped staging directory
  * (`root/_staging/batch=<id>`), then publishes the staged files into the
  * sink directories by rename. The lineage rows and the per-sink rows and
  * bytes ride on that write as one `observe()`; the driver writes the
  * lineage rows itself, so a batch runs 2 Spark jobs. A stream plans its
  * sink frame once per query ([[SinkPlan]]) and rebinds it to each
  * micro-batch's rows.
  */
object Sinks {

  /** The columns [[writeAll]]'s sinks and lineage rows read. */
  val SinkColumns: Seq[String] = Seq("ts", "doc_json", "sink_index", "src_file", "src_offset")

  /** The sink directories under a sink root, in publish order. */
  val SinkNames: Seq[String] = Seq("file", "logstash", "elastic")

  /** Rows one sink received, and their UTF-8 bytes, newlines included. */
  final case class Written(rows: Long, bytes: Long)

  /** K1: hourly-partitioned NDJSON file sink. */
  def writeFile(routed: DataFrame, dir: String): Unit =
    hourly(routed).write.mode("append").partitionBy("date_hour").text(dir)

  /** The event hour that keys the file sink's partitions. */
  private def dateHour: Column = date_format(col("ts"), "yyyyMMdd_HH")

  /** The file sink's rows: `doc_json` keyed by its event hour. */
  private def hourly(routed: DataFrame): DataFrame =
    routed.select(dateHour.as("date_hour"), col("doc_json"))

  /** K2: logstash-shaped NDJSON (single stream, newline framed). */
  def writeLogstash(routed: DataFrame, dir: String): Unit =
    routed.select("doc_json").write.mode("append").text(dir)

  /** K3: elastic bulk framing partitioned by routed index. */
  def writeElastic(routed: DataFrame, dir: String): Unit =
    Routing.bulkFrame(routed)
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

  /** W1 + the sink frame: each conversation co-located in one of
    * `spark.sql.shuffle.partitions` partitions and ordered by turn within
    * it, projected to [[SinkColumns]], plus the elastic `bulk` pair
    * ([[Routing.bulkFrame]]): every column the staged write reads. Column
    * pruning keeps every other routed column out of the ordering exchange.
    * The partition count is explicit so AQE keeps it: coalescing the
    * exchange would change the write's task count and the sinks' file
    * count. */
  private[graft] def sinkFrame(routed: DataFrame): DataFrame =
    Routing.bulkFrame(routed
      .repartition(routed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .select(SinkColumns.map(col): _*))

  /** [[sinkFrame]] over `routedOf` of a batch, planned once: the frame is
    * built and analysed over an empty placeholder with `schema`'s columns
    * in `spark`, and never optimized or run. [[bind]] puts a batch's rows
    * in the placeholder's place ([[GraftBridge.rebind]]) and returns a
    * frame of `spark`, so the batch's jobs run with `spark`'s artifacts
    * and reuse the code it has already generated. */
  private[graft] final class SinkPlan(spark: SparkSession, schema: StructType)(
      routedOf: DataFrame => DataFrame) {
    private val leaf = GraftBridge.placeholder(spark, schema)
    private val template = sinkFrame(routedOf(leaf))
    def bind(rows: DataFrame): DataFrame = GraftBridge.rebind(spark, template, leaf, rows)
  }

  /** The rows of `root/lineage`: one per `src_file` of a batch. */
  private[graft] val LineageSchema: StructType = StructType(Seq(
    StructField("src_file", StringType), StructField("min_offset", LongType),
    StructField("max_offset", LongType), StructField("n_events", LongType, nullable = false),
    StructField("batch_id", LongType, nullable = false)))

  /** Per `src_file` of a sink frame: min and max `src_offset` (null when
    * every offset of the file is null) and the row count, as ONE aggregate
    * so the lineage rides on the staged write's `observe()`. The buffer
    * is a Java map, so a null `src_file` is a group of its own (a Spark
    * map key cannot be null); the result is an array of rows. */
  private object FileLineage extends Aggregator[(String, java.lang.Long),
      java.util.HashMap[String, Array[Long]], Seq[(String, Option[Long], Option[Long], Long)]] {
    // per file: min offset, max offset, non-null offsets, rows
    def zero: java.util.HashMap[String, Array[Long]] = new java.util.HashMap()
    def reduce(b: java.util.HashMap[String, Array[Long]],
               in: (String, java.lang.Long)): java.util.HashMap[String, Array[Long]] = {
      val s = b.computeIfAbsent(in._1, _ => Array(Long.MaxValue, Long.MinValue, 0L, 0L))
      if (in._2 != null) {
        s(0) = math.min(s(0), in._2); s(1) = math.max(s(1), in._2); s(2) += 1
      }
      s(3) += 1
      b
    }
    def merge(a: java.util.HashMap[String, Array[Long]],
              b: java.util.HashMap[String, Array[Long]]): java.util.HashMap[String, Array[Long]] = {
      b.forEach((f, y) => a.merge(f, y, (x, y) =>
        Array(math.min(x(0), y(0)), math.max(x(1), y(1)), x(2) + y(2), x(3) + y(3))))
      a
    }
    def finish(b: java.util.HashMap[String, Array[Long]])
        : Seq[(String, Option[Long], Option[Long], Long)] =
      b.asScala.toSeq.map { case (f, s) =>
        (f, Option.when(s(2) > 0)(s(0)), Option.when(s(2) > 0)(s(1)), s(3))
      }
    // built once: ExpressionEncoder() derives its serializer by reflection
    @transient lazy val bufferEncoder: Encoder[java.util.HashMap[String, Array[Long]]] =
      Encoders.kryo
    @transient lazy val outputEncoder: Encoder[Seq[(String, Option[Long], Option[Long], Long)]] =
      ExpressionEncoder()
  }

  private val fileLineage =
    udaf(FileLineage, Encoders.tuple(Encoders.STRING, Encoders.LONG))

  /** UTF-8 bytes of a text-sink line, its newline included. */
  private def lineBytes(c: Column): Column = sum(coalesce(octet_length(c), lit(0)) + 1)

  /** The staged write: every row of the [[sinkFrame]] `frame` as its three sink
    * lines — (`file`, its event hour, `doc_json`), (`logstash`, no key,
    * `doc_json`) and (`elastic`, `sink_index`, the bulk pair) — in one
    * text write partitioned by sink and key, overwriting `dir`. The writer
    * sorts each task's lines by (sink, key); its in-memory sort is stable,
    * so each file keeps the sink frame's turn order, as the per-sink
    * writes of the cached frame did. Returns what the write's
    * `observe()` counted: `rows`, `doc_bytes`, `bulk_bytes` and `lineage`
    * ([[FileLineage]]). */
  private def stage(frame: DataFrame, dir: String): Map[String, Any] = {
    val obs = Observation()
    def line(sink: String, key: Column, value: String): Column =
      struct(lit(sink).as("sink"), key.as("key"), col(value).as("value"))
    frame
      .observe(obs, count(lit(1)).as("rows"), lineBytes(col("doc_json")).as("doc_bytes"),
        lineBytes(col("bulk")).as("bulk_bytes"),
        fileLineage(col("src_file"), col("src_offset")).as("lineage"))
      .select(explode(array(line("file", dateHour, "doc_json"),
        line("logstash", lit(null).cast(StringType), "doc_json"),
        line("elastic", col("sink_index"), "bulk"))).as("line"))
      .select("line.*")
      .write.mode("overwrite").partitionBy("sink", "key").text(dir)
    obs.get
  }

  /** The lineage rows of one batch from its observed [[FileLineage]],
    * ordered by `src_file` (a null file first). */
  private def lineageRows(files: Seq[Row], batchId: Long): Seq[InternalRow] =
    files.sortBy(r => Option(r.getString(0))).map(r =>
      InternalRow(Option(r.getString(0)).map(UTF8String.fromString).orNull,
        r.get(1), r.get(2), r.get(3), batchId))

  /** Writes `rows` as one [[LineageSchema]] parquet file into `dir` with
    * `ParquetFileFormat`'s own writer, on the driver: the rows are already
    * here, so no Spark job runs. The file is named and framed as a
    * one-task parquet write names and frames it. */
  private def stageLineage(spark: SparkSession, rows: Seq[InternalRow], dir: Path): Unit = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val writers = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, LineageSchema)
    val task = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val file = new Path(dir, s"part-00000-${UUID.randomUUID}-c000${writers.getFileExtension(task)}")
    val out = writers.newInstance(file.toString, LineageSchema, task)
    try rows.foreach(out.write) finally out.close()
  }

  private val visible: PathFilter = p => !p.getName.startsWith(".") && !p.getName.startsWith("_")

  /** Renames the files of `from` into `to`, which `mkdirs` creates with
    * the umask, as a write's own committer does. A rename carries a
    * file's `.crc` along. Only the files still in `from` move, so a repeat
    * after a failure moves each file once. */
  private def moveFiles(fs: FileSystem, from: Path, to: Path): Unit = {
    if (!fs.mkdirs(to)) throw new IOException(s"cannot create $to")
    fs.listStatus(from, visible).foreach { f =>
      val dst = new Path(to, f.getPath.getName)
      if (!fs.rename(f.getPath, dst)) throw new IOException(s"cannot move ${f.getPath} to $dst")
    }
  }

  /** Moves `sink`'s staged part files under `staged` into its directory
    * under `root` — `file/date_hour=K`, `logstash` or
    * `elastic/sink_index=K` ([[moveFiles]]) — and writes the sink's
    * `_SUCCESS`. */
  private def publish(fs: FileSystem, staged: Path, root: Path, sink: String): Unit = {
    val from = new Path(staged, s"sink=$sink")
    val keyDirs = if (fs.exists(from)) fs.listStatus(from, visible).toSeq.map(_.getPath) else Nil
    keyDirs.foreach { k =>
      val key = k.getName.stripPrefix("key=")
      val to = sink match {
        case "file" => new Path(root, s"file/date_hour=$key")
        case "logstash" => new Path(root, "logstash")
        case "elastic" => new Path(root, s"elastic/sink_index=$key")
      }
      moveFiles(fs, k, to)
    }
    fs.create(new Path(root, s"$sink/_SUCCESS"), true).close()
  }

  /** Writes all sinks of the routed batch with ONE Spark write; this is
    * the one place of the W1 turn ordering: [[write]] of the routed
    * batch's [[sinkFrame]]. */
  def writeAll(routed: DataFrame, root: String, batchId: Long = 0L,
               maxAttempts: Int = 1, sleep: Long => Unit = Thread.sleep): Map[String, Written] =
    write(sinkFrame(routed), root, batchId, maxAttempts, sleep)

  /** Writes a [[sinkFrame]] to every sink and its lineage rows. Per batch,
    * two Spark jobs: the ordering exchange's map stage and the staged
    * write.
    *
    *  1. Stage: the frame's rows as file, logstash and elastic lines in
    *     one partitioned text write into `root/_staging/batch=<id>`
    *     (overwritten), with an `observe()` that counts the lineage and
    *     the per-sink rows and bytes on the same pass.
    *  1. Publish: each sink's staged files are renamed into `root/file`,
    *     `root/logstash` and `root/elastic`, each with its `_SUCCESS`.
    *  1. Lineage: the driver writes the observed rows per source file as
    *     one parquet file into the staging directory ([[stageLineage]])
    *     and renames it into `root/lineage` with its `_SUCCESS` (ST2/A7:
    *     sink write precedes lineage commit = at-least-once, like the
    *     reference's sink-then-state order, process_session.go:145-162);
    *     then the staging directory is deleted.
    *
    * ST8: the staged write, each sink's publish and the lineage append are
    * retried on their own, up to `maxAttempts` tries with
    * [[graft.streaming.Reliability.withRetry]]'s backoff from a 1 s base
    * (`sleep` waits it out) — the reference retries only the failed write
    * too (`pkg/ls2/write.go:52-98`). A repeated staged write replaces its
    * own staging directory, a repeated publish moves only the files still
    * staged and a repeated lineage append writes its file once, so no sink
    * and no lineage row is written twice.
    *
    * Returns each sink's rows and bytes, from the staged write's
    * `observe()`. */
  private[graft] def write(frame: DataFrame, root: String, batchId: Long, maxAttempts: Int,
                           sleep: Long => Unit = Thread.sleep): Map[String, Written] = {
    val spark = frame.sparkSession
    def retried[T](op: => T): T =
      graft.streaming.Reliability.withRetry(maxAttempts, baseMs = 1000L, sleep = sleep)(_ => op)
    val staged = new Path(s"$root/_staging/batch=$batchId")
    val seen = retried(stage(frame, staged.toString))
    val fs = staged.getFileSystem(spark.sessionState.newHadoopConf())
    val rootPath = new Path(root)
    SinkNames.foreach(sink => retried(publish(fs, staged, rootPath, sink)))
    val lineage = lineageRows(seen("lineage").asInstanceOf[Seq[Row]], batchId)
    val stagedLineage = new Path(staged, "lineage")
    var lineageStaged = false
    retried {
      if (!lineageStaged) {
        fs.delete(stagedLineage, true) // what a failed attempt left
        stageLineage(spark, lineage, stagedLineage)
        lineageStaged = true
      }
      moveFiles(fs, stagedLineage, new Path(rootPath, "lineage"))
      fs.create(new Path(rootPath, "lineage/_SUCCESS"), true).close()
    }
    fs.delete(staged, true)
    if (fs.listStatus(staged.getParent).isEmpty) fs.delete(staged.getParent, false)
    val rows = seen("rows").asInstanceOf[Long]
    def bytes(k: String) = Option(seen(k)).fold(0L)(_.asInstanceOf[Long])
    Map("file" -> Written(rows, bytes("doc_bytes")), "logstash" -> Written(rows, bytes("doc_bytes")),
      "elastic" -> Written(rows, bytes("bulk_bytes")))
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
