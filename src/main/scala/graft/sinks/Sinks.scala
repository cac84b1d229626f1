package graft.sinks

import java.io.{IOException, OutputStream}
import java.nio.file.{Files, Paths}
import java.util.UUID
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.apache.hadoop.fs.{FileSystem, Path, PathFilter}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.{Filters, Routing}

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
  * batch by conversation and turn, and ONE job's tasks write every sink
  * line themselves, through the Hadoop file system, into their own
  * attempt directories under a batch-scoped staging directory
  * (`root/_staging/batch=<id>`): no Spark file writer and no commit
  * protocol. The tasks return the files they wrote, the per-sink rows and
  * bytes and the lineage rows; only the listed files are published into
  * the sink directories by rename, and the driver writes the lineage rows
  * itself, so a batch runs 2 Spark jobs. The sink files are named and
  * laid out as Spark's `partitionBy(...).text` writer lays them out. A
  * stream plans its sink frame once per query ([[SinkPlan]]) and rebinds
  * it to each micro-batch's rows.
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
    * it, with only [[SinkColumns]] in the ordering exchange (column pruning
    * keeps every other routed column out of it), then projected to the
    * rows the staged write reads: the file sink's `date_hour` key,
    * `doc_json`, the elastic sink's `sink_index` key and `bulk` pair
    * ([[Routing.bulkFrame]]), and the lineage's `src_file` and
    * `src_offset`. The partition count is explicit so AQE keeps it:
    * coalescing the exchange would change the write's task count and the
    * sinks' file count. */
  private[graft] def sinkFrame(routed: DataFrame): DataFrame =
    Routing.bulkFrame(routed
      .repartition(routed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("conv_id"))
      .sortWithinPartitions("conv_id", "turn_idx")
      .select(SinkColumns.map(col): _*))
      .select(dateHour.as("date_hour"), col("doc_json"), col("sink_index"), col("bulk"),
        col("src_file"), col("src_offset"))

  /** [[sinkFrame]] over `routedOf` of a batch, planned once: the frame is
    * built and analysed over an empty placeholder with `schema`'s columns
    * in `spark`, and never optimized or run. [[bind]] puts a batch's rows
    * in the placeholder's place ([[GraftBridge.rebind]]) and returns a
    * frame of `spark`, so the batch's jobs run with `spark`'s artifacts
    * and reuse the code it has already generated; [[quarantine]] does the
    * same for the batch's [[Filters.deadLetterRaw]] rows. */
  private[graft] final class SinkPlan(spark: SparkSession, schema: StructType)(
      routedOf: DataFrame => DataFrame) {
    private val leaf = GraftBridge.placeholder(spark, schema)
    private val template = sinkFrame(routedOf(leaf))
    private lazy val deadLetters = Filters.deadLetterRaw(leaf)
    def bind(rows: DataFrame): DataFrame = GraftBridge.rebind(spark, template, leaf, rows)
    def quarantine(rows: DataFrame): DataFrame = GraftBridge.rebind(spark, deadLetters, leaf, rows)
  }

  /** The rows of `root/lineage`: one per `src_file` of a batch. */
  private[graft] val LineageSchema: StructType = StructType(Seq(
    StructField("src_file", StringType), StructField("min_offset", LongType),
    StructField("max_offset", LongType), StructField("n_events", LongType, nullable = false),
    StructField("batch_id", LongType, nullable = false)))

  /** The rows of one `src_file` that a task wrote: the least and greatest
    * non-null `src_offset`, how many offsets were not null, and the rows. */
  private final case class Span(file: String, min: Long, max: Long, offsets: Long, rows: Long) {
    def +(o: Span): Span =
      Span(file, math.min(min, o.min), math.max(max, o.max), offsets + o.offsets, rows + o.rows)
  }

  /** What one task attempt of the staged write wrote: the files in its
    * `attempt` directory, each named by its path under the sink root, the
    * bytes of its `doc_json` lines (the file and logstash sinks got them
    * each) and of its bulk lines, and its rows as [[Span]]s. */
  private final case class Staged(attempt: String, files: Seq[String], docBytes: Long,
                                  bulkBytes: Long, lineage: Seq[Span])

  /** The directory of `column`'s value `key`, named as Spark's
    * `partitionBy` writer names it: a null or empty key is Hive's default
    * partition, any other is path-escaped. */
  private def keyDir(column: String, key: UTF8String): String =
    if (key == null || key.numBytes == 0) s"$column=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    else s"$column=${ExternalCatalogUtils.escapePathName(key.toString)}"

  /** A task of the staged write: its partition of a [[sinkFrame]] as sink
    * lines — each row's `doc_json` into the file sink under its
    * `date_hour` and into the logstash sink, and its `bulk` pair into the
    * elastic sink under its `sink_index` — written through the root's
    * Hadoop file system (`fs.create`, with `conf` broadcast once per
    * write) into a directory of its own attempt under `dir`. Each
    * (sink, key) gets one buffered file, named as Spark's writer names the
    * task's file (`part-<partition>-<uuid>.c000.txt`), with its lines in
    * the frame's order. A line is its text and a newline; a null is the
    * newline alone, as in Spark's text writer. */
  private final class StageTask(conf: GraftBridge.SharedConf, dir: String, uuid: String)
      extends ((Int, Iterator[InternalRow]) => Iterator[Staged]) with Serializable {
    def apply(partition: Int, rows: Iterator[InternalRow]): Iterator[Staged] = {
      val attempt = s"attempt=${TaskContext.get().taskAttemptId()}"
      val base = new Path(dir, attempt)
      val fs = base.getFileSystem(conf.value)
      val name = f"part-$partition%05d-$uuid.c000.txt"
      val files = ArrayBuffer[String]()
      val lineage = new java.util.HashMap[UTF8String, Array[Long]]()
      var docBytes, bulkBytes = 0L
      def text(r: InternalRow, i: Int): UTF8String = if (r.isNullAt(i)) null else r.getUTF8String(i)
      Using.Manager { use =>
        def open(sinkDir: String): OutputStream = {
          files += s"$sinkDir/$name"
          use(fs.create(new Path(base, files.last), false))
        }
        val hours, indices = new java.util.HashMap[UTF8String, OutputStream]()
        def keyed(streams: java.util.HashMap[UTF8String, OutputStream], sink: String,
                  column: String, key: UTF8String): OutputStream = {
          val known = streams.get(key)
          if (known != null) known
          else {
            val out = open(s"$sink/${keyDir(column, key)}")
            streams.put(if (key == null) null else key.copy(), out)
            out
          }
        }
        lazy val logstash = open("logstash")
        def line(out: OutputStream, value: UTF8String): Long = {
          if (value != null) value.writeTo(out)
          out.write('\n')
          if (value == null) 1L else value.numBytes + 1L
        }
        rows.foreach { r =>
          val doc = text(r, 1)
          docBytes += line(keyed(hours, "file", "date_hour", text(r, 0)), doc)
          line(logstash, doc)
          bulkBytes += line(keyed(indices, "elastic", "sink_index", text(r, 2)), text(r, 3))
          val file = text(r, 4)
          var s = lineage.get(file)
          if (s == null) {
            s = Array(Long.MaxValue, Long.MinValue, 0L, 0L)
            lineage.put(if (file == null) null else file.copy(), s)
          }
          if (!r.isNullAt(5)) {
            val offset = r.getLong(5)
            s(0) = math.min(s(0), offset); s(1) = math.max(s(1), offset); s(2) += 1
          }
          s(3) += 1
        }
      }.get
      val spans = lineage.asScala.toSeq.map { case (f, s) =>
        Span(Option(f).map(_.toString).orNull, s(0), s(1), s(2), s(3))
      }
      Iterator.single(Staged(attempt, files.toSeq, docBytes, bulkBytes, spans))
    }
  }

  /** The name of the staged write's SQL execution, before its staging
    * directory: `"graft.sinks.stage <dir>"`. */
  private[graft] val StageExecution = "graft.sinks.stage"

  /** The staged write: every row of the [[sinkFrame]] `frame` written by
    * [[StageTask]]s into `dir`, as one SQL execution ([[StageExecution]])
    * of two jobs — the ordering exchange's map stage and the tasks that
    * write the lines. Returns each task's [[Staged]]: only the files a
    * result lists are published, so what a failed or superseded attempt
    * left under `dir` never reaches a sink. */
  private def stage(frame: DataFrame, dir: Path): Seq[Staged] = {
    val spark = frame.sparkSession
    val uuid = UUID.randomUUID.toString
    GraftBridge.withRows(frame, s"$StageExecution $dir") { rows =>
      val conf = new GraftBridge.SharedConf(spark, spark.sessionState.newHadoopConf())
      try rows.mapPartitionsWithIndex(new StageTask(conf, dir.toString, uuid)).collect().toSeq
      finally conf.destroy()
    }
  }

  /** The lineage rows of one batch from its tasks' [[Span]]s, one per
    * `src_file`, ordered by file (a null file first); the offsets are null
    * when every offset of the file is. */
  private def lineageRows(tasks: Seq[Staged], batchId: Long): Seq[InternalRow] =
    tasks.flatMap(_.lineage).groupMapReduce(_.file)(identity)(_ + _).values.toSeq
      .sortBy(s => Option(s.file)).map { s =>
        def offset(v: Long): Any = if (s.offsets > 0) v else null
        InternalRow(Option(s.file).map(UTF8String.fromString).orNull, offset(s.min), offset(s.max),
          s.rows, batchId)
      }

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

  /** Renames each (from, to) pair's file, into directories that `mkdirs`
    * creates with the umask, as a write's own committer does. A rename
    * carries a file's `.crc` along. Only the files still at `from` move,
    * so a repeat after a failure moves each file once. */
  private def move(fs: FileSystem, files: Seq[(Path, Path)]): Unit = {
    files.map(_._2.getParent).distinct.foreach { d =>
      if (!fs.mkdirs(d)) throw new IOException(s"cannot create $d")
    }
    files.foreach { case (from, to) =>
      if (fs.exists(from) && !fs.rename(from, to)) throw new IOException(s"cannot move $from to $to")
    }
  }

  /** Moves `sink`'s files that `tasks` list from their attempt directories
    * under `staged` to the same paths under `root` — `file/date_hour=K`,
    * `logstash` or `elastic/sink_index=K` ([[move]]) — and writes the
    * sink's `_SUCCESS`. */
  private def publish(fs: FileSystem, staged: Path, root: Path, sink: String,
                      tasks: Seq[Staged]): Unit = {
    move(fs, for (t <- tasks; f <- t.files if f.startsWith(s"$sink/"))
      yield new Path(staged, s"${t.attempt}/$f") -> new Path(root, f))
    fs.create(new Path(root, s"$sink/_SUCCESS"), true).close()
  }

  /** Writes all sinks of the routed batch with ONE staged write; this is
    * the one place of the W1 turn ordering: [[write]] of the routed
    * batch's [[sinkFrame]]. */
  def writeAll(routed: DataFrame, root: String, batchId: Long = 0L,
               maxAttempts: Int = 1, sleep: Long => Unit = Thread.sleep): Map[String, Written] =
    write(sinkFrame(routed), root, batchId, maxAttempts, sleep)

  /** Writes a [[sinkFrame]] to every sink and its lineage rows. Per batch,
    * two Spark jobs: the ordering exchange's map stage and the staged
    * write.
    *
    *  1. Stage: the write's tasks write the frame's rows as file, logstash
    *     and elastic lines into their own attempt directories under
    *     `root/_staging/batch=<id>` ([[stage]]) and return the files they
    *     wrote, their per-sink rows and bytes and their lineage.
    *  1. Publish: each sink's listed files are renamed into `root/file`,
    *     `root/logstash` and `root/elastic`, each with its `_SUCCESS`; a
    *     file no task result lists stays behind.
    *  1. Lineage: the driver writes the returned rows per source file as
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
    * too (`pkg/ls2/write.go:52-98`). A repeated staged write writes new
    * attempt directories and publishes only their files, a repeated
    * publish moves only the files still staged and a repeated lineage
    * append writes its file once, so no sink and no lineage row is
    * written twice.
    *
    * Returns each sink's rows and bytes, as the staged write's tasks
    * counted them. */
  private[graft] def write(frame: DataFrame, root: String, batchId: Long, maxAttempts: Int,
                           sleep: Long => Unit = Thread.sleep): Map[String, Written] = {
    val spark = frame.sparkSession
    def retried[T](op: => T): T =
      graft.streaming.Reliability.withRetry(maxAttempts, baseMs = 1000L, sleep = sleep)(_ => op)
    val staged = new Path(s"$root/_staging/batch=$batchId")
    val tasks = retried(stage(frame, staged))
    val fs = staged.getFileSystem(spark.sessionState.newHadoopConf())
    val rootPath = new Path(root)
    SinkNames.foreach(sink => retried(publish(fs, staged, rootPath, sink, tasks)))
    val lineage = lineageRows(tasks, batchId)
    val stagedLineage = new Path(staged, "lineage")
    var lineageStaged = false
    retried {
      if (!lineageStaged) {
        fs.delete(stagedLineage, true) // what a failed attempt left
        stageLineage(spark, lineage, stagedLineage)
        lineageStaged = true
      }
      val published = new Path(rootPath, "lineage")
      move(fs, fs.listStatus(stagedLineage, visible).toSeq.map(f =>
        f.getPath -> new Path(published, f.getPath.getName)))
      fs.create(new Path(published, "_SUCCESS"), true).close()
    }
    fs.delete(staged, true)
    if (fs.listStatus(staged.getParent).isEmpty) fs.delete(staged.getParent, false)
    val rows = tasks.flatMap(_.lineage).map(_.rows).sum
    val (docBytes, bulkBytes) = (tasks.map(_.docBytes).sum, tasks.map(_.bulkBytes).sum)
    Map("file" -> Written(rows, docBytes), "logstash" -> Written(rows, docBytes),
      "elastic" -> Written(rows, bulkBytes))
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
