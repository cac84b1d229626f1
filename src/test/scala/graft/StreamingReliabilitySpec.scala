package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Routing
import graft.sinks.Sinks
import graft.sources.Transcripts
import graft.streaming.{Reliability, StreamingPipeline}

/** The reliability surfaces of `StreamingPipeline.start` end-to-end: ST6
  * hot-reload swaps the filter chain mid-query, ST7 graceful stop, ST5
  * corrupted-checkpoint refusal, and ST8 per-sink retry — a failed elastic
  * write is retried alone, so no sink holds a row twice. */
class StreamingReliabilitySpec extends SparkSpec {

  private def fresh(name: String): String = {
    val p = s"/tmp/graft_relstream_$name"
    Graft.rmTree(p)
    Files.createDirectories(Paths.get(p))
    p
  }

  /** Runs `write` with a plain file at `sinks/elastic`, removed once a SQL
    * execution fails: the first elastic write fails and a retry finds the
    * path clear. Returns the number of failed executions seen. */
  private def withElasticBlocked(sinks: String)(write: => Unit): Int = {
    Files.createDirectories(Paths.get(sinks))
    val blocker = Paths.get(sinks, "elastic")
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
  }

  test("ST8: a failed elastic write through writeAll is retried alone") {
    val root = fresh("partial_writeall")
    val routed = Pipeline.routed(spark, tiny)
    val failures = withElasticBlocked(s"$root/sinks") {
      Sinks.writeAll(routed, s"$root/sinks", maxAttempts = 3)
    }
    assert(failures >= 1, "the blocked elastic write must fail once")
    assertWrittenOnce(s"$root/sinks", routed)
  }

  test("ST8: a failed elastic write through start is retried alone") {
    val root = fresh("partial_start")
    Transcripts.load(spark, tiny).repartition(2).write.parquet(s"$root/in")
    val failures = withElasticBlocked(s"$root/sinks") {
      StreamingPipeline.start(spark, s"$root/in", s"$root/sinks", s"$root/ckpt")
        .awaitTermination()
    }
    assert(failures >= 1, "the blocked elastic write must fail once")
    assertWrittenOnce(s"$root/sinks", Pipeline.routed(spark, tiny))
  }

  test("ST6+ST7: mid-query config reload swaps the event blacklist; graceful stop") {
    val root = fresh("reload")
    val t = Transcripts.load(spark, tiny)

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
      assert(totalCount() > total1, "part 2 still routed its other events")

      assert(Reliability.stopGracefully(q))
      assert(!q.isActive)
    } finally if (q.isActive) q.stop()
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
