package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.functions._
import graft.sinks.Sinks
import graft.sources.Transcripts
import graft.streaming.{Reliability, StreamingPipeline}

/** The reliability surface (ST5/ST6/ST8) driven on a REAL multi-executor
  * cluster via spark-submit — the same behaviors StreamingReliabilitySpec
  * proves in-process, exercised through `StreamingPipeline.start` against
  * separate executor JVMs (tools/cluster_bench.sh phase 3):
  *
  *  - ST5: a ZEROED checkpoint (latest offsets file truncated to 0
  *    bytes) must REFUSE to resume with a typed error instead of
  *    silently replaying from a corrupt cursor;
  *  - ST6: a config file rewritten MID-QUERY (between micro-batches of
  *    a running ProcessingTime stream) is picked up by the debounced
  *    reloader, and events appended AFTER the rewrite are filtered by
  *    the NEW blacklist while earlier batches keep the old one;
  *  - ST8: the elastic sink's first write attempt fails (its dir is
  *    blocked by a regular file, removed once the failure is seen); the
  *    batch succeeds after backoff, and the file, logstash and elastic
  *    sinks each hold the batch's rows exactly once.
  *
  * Prints one JSON line per surface; the script greps for
  * `"metric":"cluster_reliability"`. */
object ClusterReliability {

  import java.nio.file.{Files, Paths, Path}

  /** Removes `blocker` once a SQL execution fails: a sink write blocked
    * by it fails its first attempt, and the ST8 retry (at least one
    * backoff later) finds the path clear. Counts the failures seen
    * (Spark reports a successful execution with an empty message). */
  private[graft] final class UnblockOnFailure(blocker: Path) extends SparkListener {
    @volatile var failures = 0
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionEnd if e.errorMessage.exists(_.nonEmpty) =>
        failures += 1
        Files.deleteIfExists(blocker)
      case _ =>
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val root = "/tmp/graft_cluster_rel"
    val builder = SparkSession.builder()
      .appName("graft-cluster-reliability")
      .config("spark.sql.shuffle.partitions", "8")
    // normally submitted against a standalone master (cluster_bench.sh);
    // GRAFT_LOCAL_MASTER lets the same surface run in-process for debug
    val spark = sys.env.get("GRAFT_LOCAL_MASTER")
      .fold(builder)(builder.master).getOrCreate()
    Graft.prep(spark)
    spark.sparkContext.setLogLevel("WARN")
    Graft.rmTree(root)

    val t = Transcripts.load(spark, sfDir)
    val executors = spark.sparkContext.getExecutorMemoryStatus.size - 1

    // ---- ST5: zeroed checkpoint refuses to resume -------------------------
    t.repartition(2).write.parquet(s"$root/st5/in")
    val q5 = StreamingPipeline.start(spark, s"$root/st5/in",
      s"$root/st5/sinks", s"$root/st5/ckpt")
    q5.awaitTermination()
    // zero the newest offsets file — the reference's "state file zeroed
    // by a crash" scenario (ReliabilitySpec's in-process twin)
    val offsets = Files.list(Paths.get(s"$root/st5/ckpt/offsets")).iterator()
    var newest: Path = null
    while (offsets.hasNext) {
      val p = offsets.next()
      if (!p.getFileName.toString.startsWith(".") &&
        (newest == null || p.getFileName.toString > newest.getFileName.toString))
        newest = p
    }
    Files.write(newest, Array.emptyByteArray)
    val refused =
      try {
        StreamingPipeline.start(spark, s"$root/st5/in",
          s"$root/st5/sinks", s"$root/st5/ckpt")
        false
      } catch {
        case e: IllegalStateException => e.getMessage.contains("refusing to resume")
      }

    // ---- ST6: mid-query debounced config reload ---------------------------
    val cfgPath = s"$root/st6/job.json"
    Files.createDirectories(Paths.get(s"$root/st6"))
    Files.write(Paths.get(cfgPath),
      """{"excluded_events": []}""".getBytes("UTF-8"))
    val reloader = new Reliability.ConfigReloader(cfgPath, quietMs = 0L, maxMs = 0L)
    // phase 1 files drain under the empty blacklist
    t.filter(col("src_offset") % 2 === 0)
      .repartition(2).write.parquet(s"$root/st6/in")
    val q6 = StreamingPipeline.start(spark, s"$root/st6/in",
      s"$root/st6/sinks", s"$root/st6/ckpt", reloader = Some(reloader),
      availableNow = false, maxFilesPerTrigger = Some(1))
    // guard on the path actually read (the NDJSON file sink); a read
    // failure is logged, not silently folded into 0, so a broken sink is
    // distinguishable from "no logins yet"
    def loginCount(): Long =
      if (!Files.exists(Paths.get(s"$root/st6/sinks/file"))) 0L
      else try {
        spark.read.text(s"$root/st6/sinks/file")
          .filter(get_json_object(col("value"), "$.name") === "login").count()
      } catch {
        case e: Exception =>
          System.err.println(s"[cluster-rel] st6 file-sink read failed: $e")
          0L
      }
    def lineageFiles(): Long =
      try spark.read.parquet(s"$root/st6/sinks/lineage")
        .select("src_file").distinct().count()
      catch { case _: Exception => 0L }
    // wait until BOTH phase-1 files drained — capturing earlier races
    // the reload against the tail of phase 1
    var spins = 0
    while (lineageFiles() < 2L && spins < 120) { Thread.sleep(1000); spins += 1 }
    val loginsPhase1 = loginCount()
    // MID-QUERY: rewrite the config to blacklist login. The reloader polls
    // at the START of every foreachBatch, so the first phase-2 batch
    // observes the change before it filters — provided the rewrite's mtime
    // actually differs from the reloader's snapshot. Bump it explicitly
    // past filesystem timestamp granularity instead of sleeping.
    Files.write(Paths.get(cfgPath),
      """{"excluded_events": ["login"]}""".getBytes("UTF-8"))
    Files.setLastModifiedTime(Paths.get(cfgPath),
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(Paths.get(cfgPath)).toMillis + 2001))
    t.filter(col("src_offset") % 2 === 1)
      .repartition(2).write.mode("append").parquet(s"$root/st6/in")
    // wait for the appended files to drain (lineage grows past phase 1)
    spins = 0
    while (lineageFiles() < 4L && spins < 120) { Thread.sleep(1000); spins += 1 }
    // reload acknowledgement: the driver-side reloader must have applied
    // the new blacklist (poll-at-batch-start contract) — wait on it rather
    // than inferring from timing
    spins = 0
    while (!reloader.current.excludedEvents.contains("login") && spins < 60) {
      Thread.sleep(500); spins += 1
    }
    Reliability.stopGracefully(q6)
    val loginsFinal = loginCount()
    val reloadHeld = loginsPhase1 > 0L && loginsFinal == loginsPhase1

    // ---- ST8: only the failed sink is retried ------------------------------
    t.repartition(2).write.parquet(s"$root/st8/in")
    Files.createDirectories(Paths.get(s"$root/st8/sinks"))
    // block the elastic sink, written after file and logstash, with a
    // REGULAR FILE: its attempt 1 must fail, and a retry of the whole
    // batch would write file and logstash twice
    val blocker = Paths.get(s"$root/st8/sinks/elastic")
    Files.write(blocker, "blocker".getBytes("UTF-8"))
    val unblocker = new UnblockOnFailure(blocker)
    spark.sparkContext.addSparkListener(unblocker)
    val q8 = StreamingPipeline.start(spark, s"$root/st8/in",
      s"$root/st8/sinks", s"$root/st8/ckpt")
    q8.awaitTermination()
    spark.sparkContext.removeSparkListener(unblocker)
    val st8Rows = Sinks.countsFromDisk(spark, s"$root/st8/sinks")
      .groupBy("sink").agg(sum("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val batchRows = Pipeline.transform(t, spark).count()
    val retriedOk = unblocker.failures > 0 &&
      Seq("file", "logstash", "elastic").forall(st8Rows(_) == batchRows)

    println(s"""{"metric":"cluster_reliability","executors":$executors,"st5_zeroed_checkpoint_refused":$refused,"st6_midquery_reload_filtered":$reloadHeld,"st6_logins_before":$loginsPhase1,"st6_logins_after":$loginsFinal,"st8_retry_recovered":$retriedOk,"st8_failed_writes":${unblocker.failures},"st8_file_rows":${st8Rows("file")},"st8_logstash_rows":${st8Rows("logstash")},"st8_elastic_rows":${st8Rows("elastic")},"st8_expected":$batchRows}""")
    spark.stop()
  }
}
