package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.operators.Routing
import graft.sinks.Sinks
import graft.sources.Transcripts
import graft.streaming.{Reliability, StreamingPipeline}

/** The reliability surfaces of `StreamingPipeline.start` end-to-end: ST6
  * hot-reload swaps the filter chain mid-query, ST7 graceful stop, ST5
  * corrupted-checkpoint refusal, and ST8 per-step retry — a failed staged
  * write, elastic publish or lineage publish is retried alone, so no sink
  * holds a row twice and the lineage counts each row once. */
class StreamingReliabilitySpec extends SparkSpec {

  private def fresh(name: String): String = {
    val p = s"/tmp/graft_relstream_$name"
    Graft.rmTree(p)
    Files.createDirectories(Paths.get(p))
    p
  }

  /** Runs `write` with a plain file at `blocker`, removed once a SQL
    * execution fails: the first staged write fails and a retry finds the
    * path clear. Returns the number of failed executions seen. */
  private def withBlockedWrite(blocker: java.nio.file.Path)(write: => Unit): Int = {
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, "blocker".getBytes)
    val unblocker = new ClusterReliability.UnblockOnFailure(blocker)
    spark.sparkContext.addSparkListener(unblocker)
    try write
    finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(unblocker)
    }
    unblocker.failures
  }

  /** Per sink, the rows on disk equal the routed rows, and the lineage
    * rows count each routed row once. */
  private def assertWrittenOnce(sinks: String, routed: DataFrame): Unit = {
    val got = Sinks.countsFromDisk(spark, sinks).select("sink", "route_key", "n")
    val want = Routing.perSinkCounts(routed).select("sink", "route_key", "n")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "per-sink counts on disk differ from the routed counts")
    val lineage = spark.read.parquet(s"$sinks/lineage")
      .agg(sum("n_events")).collect()(0).getLong(0)
    assert(lineage == routed.count())
    assert(!Files.exists(Paths.get(sinks, "_staging")), "the staging directory remains")
  }

  test("ST8: a failed elastic write through writeAll is retried alone") {
    // the elastic publish fails on a plain file at sinks/elastic (after the
    // file and logstash publishes); the retry's backoff removes it
    val root = fresh("partial_writeall")
    val routed = Pipeline.routed(spark, tiny)
    val blocker = Paths.get(root, "sinks", "elastic")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, "blocker".getBytes)
    var failures = 0
    Sinks.writeAll(routed, s"$root/sinks", maxAttempts = 3,
      sleep = _ => { failures += 1; Files.delete(blocker) })
    assert(failures == 1, "the blocked elastic publish must fail once")
    assertWrittenOnce(s"$root/sinks", routed)
  }

  test("ST8: a failed lineage publish through writeAll is retried alone") {
    // a plain file at sinks/lineage fails the lineage publish after every
    // sink is published; the retry's backoff removes it
    val root = fresh("partial_lineage")
    val routed = Pipeline.routed(spark, tiny)
    val blocker = Paths.get(root, "sinks", "lineage")
    Files.createDirectories(blocker.getParent)
    Files.write(blocker, "blocker".getBytes)
    var failures = 0
    Sinks.writeAll(routed, s"$root/sinks", maxAttempts = 3,
      sleep = _ => { failures += 1; Files.delete(blocker) })
    assert(failures == 1, "the blocked lineage publish must fail once")
    assertWrittenOnce(s"$root/sinks", routed)
    assert(Files.list(blocker).iterator().asScala.count(_.getFileName.toString.startsWith("part-")) == 1)
  }

  test("ST8: a failed elastic write through start is retried alone") {
    // the staged write, which carries the elastic lines, fails on a plain
    // file at sinks/_staging
    val root = fresh("partial_start")
    Transcripts.load(spark, tiny).repartition(2).write.parquet(s"$root/in")
    val failures = withBlockedWrite(Paths.get(root, "sinks", "_staging")) {
      StreamingPipeline.start(spark, s"$root/in", s"$root/sinks", s"$root/ckpt")
        .awaitTermination()
    }
    assert(failures >= 1, "the blocked staged write must fail once")
    assertWrittenOnce(s"$root/sinks", Pipeline.routed(spark, tiny))
  }

  /** Per staged write of `sinks` that succeeded in `spark`: its batch id
    * and the `exprId`s its rebound sink plan gives the batch's rows
    * (`GraftBridge.rebind`), which name the plan's template. */
  private final class TemplateProbe(sinks: String) extends QueryExecutionListener {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    private val staged = s"\\Q${Sinks.StageExecution} $sinks/_staging/batch=\\E(\\d+)".r
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      funcName match {
        case staged(b) => qe.logical.collectFirst {
          case Project(list, _: LogicalRDD) if list.forall(_.isInstanceOf[Alias]) =>
            list.map(_.exprId.id)
        }.foreach(ids => seen.add(b.toLong -> ids))
        case _ =>
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  test("ST6+ST7: mid-query config reload swaps the event blacklist; graceful stop") {
    val root = fresh("reload")
    val t = Transcripts.load(spark, tiny)
    val probe = new TemplateProbe(s"$root/sinks")
    spark.listenerManager.register(probe)

    val cfgPath = s"$root/job.json"
    Files.write(Paths.get(cfgPath), """{"excluded_events": []}""".getBytes)
    val reloader = new Reliability.ConfigReloader(cfgPath, quietMs = 0, maxMs = 0)

    // part 1 staged before start
    t.filter(col("conv_id") =!= "conv_hot").limit(2000)
      .repartition(2).write.parquet(s"$root/in")
    val q = StreamingPipeline.start(spark, s"$root/in", s"$root/sinks",
      s"$root/ckpt", reloader = Some(reloader), availableNow = false)
    try {
      q.processAllAvailable()
      val part1 = q.lastProgress.batchId
      def loginCount(): Long = {
        val dir = Paths.get(s"$root/sinks/logstash")
        if (!Files.exists(dir)) 0L
        else spark.read.text(s"$root/sinks/logstash")
          .filter(get_json_object(col("value"), "$.name") === "login").count()
      }
      def totalCount(): Long =
        spark.read.text(s"$root/sinks/logstash").count()
      val logins1 = loginCount()
      val total1 = totalCount()
      assert(logins1 > 0, "part 1 must route login events")

      // hot-reload: exclude logins, then stage part 2
      Files.write(Paths.get(cfgPath), """{"excluded_events": ["login"]}""".getBytes)
      t.filter(col("conv_id") === "conv_hot").limit(2000)
        .repartition(2).write.mode("append").parquet(s"$root/in")
      q.processAllAvailable()

      assert(loginCount() == logins1, "post-reload batches must drop logins")
      val total2 = totalCount()
      assert(total2 > total1, "part 2 still routed its other events")

      // part 3 arrives with the config unchanged: poll() returns None
      t.filter(col("conv_id") =!= "conv_hot").limit(3000)
        .repartition(2).write.mode("append").parquet(s"$root/in")
      q.processAllAvailable()
      assert(loginCount() == logins1 && totalCount() > total2)
      // one sink plan until the reload, one after it: the template is
      // rebuilt exactly when poll() returns a new config
      ListenerBusDrain(spark.sparkContext)
      val templates = probe.seen.asScala.toSeq.sortBy(_._1)
      assert(templates.map(_._1) == (0L to q.lastProgress.batchId), templates)
      val (before, after) = templates.partition(_._1 <= part1)
      assert(before.nonEmpty && after.size >= 2, templates)
      assert(before.map(_._2).distinct.size == 1 && after.map(_._2).distinct.size == 1 &&
        before.head._2 != after.head._2, templates)

      assert(Reliability.stopGracefully(q))
      assert(!q.isActive)
    } finally {
      if (q.isActive) q.stop()
      spark.listenerManager.unregister(probe)
    }
  }

  test("ST5: a zeroed checkpoint metadata file refuses resume") {
    val root = fresh("corrupt")
    Transcripts.load(spark, tiny).limit(500)
      .repartition(1).write.parquet(s"$root/in")
    val q = StreamingPipeline.start(spark, s"$root/in", s"$root/sinks",
      s"$root/ckpt")
    q.awaitTermination()

    // integrity holds on the healthy checkpoint
    assert(Reliability.checkpointIntegrity(s"$root/ckpt").isRight)

    // zero the newest offsets file — the reference's all-0x00 state corruption
    val offsets = Paths.get(s"$root/ckpt/offsets")
    val latest = Files.list(offsets).iterator()
    var target: java.nio.file.Path = null
    while (latest.hasNext) { val p = latest.next()
      if (p.getFileName.toString.forall(_.isDigit)) target = p }
    Files.write(target, Array.fill[Byte](32)(0))

    val e = intercept[IllegalStateException] {
      StreamingPipeline.start(spark, s"$root/in", s"$root/sinks",
        s"$root/ckpt")
    }
    assert(e.getMessage.contains("zeroed"))
  }

  test("ST5: a checkpoint that has committed no batch yet resumes") {
    val root = fresh("empty")
    Files.createDirectories(Paths.get(s"$root/in"))
    def drain(): Unit = StreamingPipeline.start(spark, s"$root/in", s"$root/sinks",
      s"$root/ckpt").awaitTermination()
    drain() // no input: the checkpoint keeps empty offsets and commits dirs
    Transcripts.load(spark, tiny).limit(500).write.mode("append").parquet(s"$root/in")
    drain()
    val staged = spark.read.schema(StreamingPipeline.schema).parquet(s"$root/in")
    assert(spark.read.text(s"$root/sinks/logstash").count() ==
      Pipeline.transform(staged, spark).count())
  }
}
